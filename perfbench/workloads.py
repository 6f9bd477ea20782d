"""The benchmark workloads. Each drives public entry points of the package,
one call at a time, in a fresh Spark session, as two phases a user runs back
to back:

* ``validate_resume`` — ``engine.run_validation`` over a seeded table
  bucketed by doc_id, checkpointed in batches. Phase 1 validates from a cold
  manifest and stops after the first batch (a simulated kill); phase 2
  resumes from the manifest and validates the rest.
* ``parse_and_query`` — phase 1 is ``pipeline.run_induction_pipeline``: a
  cold leg learns templates from a seeded log, a warm leg parses a second
  log against them. Phase 2 runs one bench query per operator module of
  ``operators.all_queries()`` over the checked-in sf0.01 tables.

A part (``Validation``, ``Parse``, ``Queries``) has ``setup`` (inputs),
``run`` (the timed calls of one pass, as named steps), ``check`` (outputs
against an independent expectation; every failed check is a failed
operation), and, for traced runs, ``install`` (wrappers) and ``layers``
(per-layer metrics from spans and status-store jobs).
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

from gen import LogSpec, SeqSpec, write_logs, write_sequence_tables
from tracing import busy_s, stage_sums

QUERY_SET = [
    # (bench query, operator module)
    ("pricing_summary", "relational"),
    ("jaccard_near_dup", "text"),
    ("embedding_near_dup", "similarity"),
    ("spell_match", "spell_match"),
    ("dedup_clusters", "dedup_clusters"),
    ("pack_sequences", "training_mix"),
    ("binary_meta", "multimodal"),
]
MODULES = sorted({m for _, m in QUERY_SET})


def _digest(rows) -> str:
    """Order- and multiplicity-insensitive digest of (part_id, doc_id, rule_id)
    rows — the set semantics of the golden gate."""
    lines = sorted({"|".join(map(str, r)) for r in rows})
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _cached(path: str, compute):
    """JSON value at ``path``, computing and storing it when absent."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


class Part:
    def __init__(self, ctx, record) -> None:
        self.ctx = ctx
        self.record = record          # record(ok, problem): one operation
        self.outputs: list = []       # per pass, what check() inspects

    def timed(self, steps: dict, step: str, fn):
        """Run ``fn`` as one operation, its wall stored under ``step``; an
        exception is a failed operation and returns None."""
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception as e:
            self.record(False, f"{step}: {type(e).__name__}: {e}")
            return None
        finally:
            steps[step] = time.perf_counter() - t0
            self.ctx.after_call()

    def install(self, tracer) -> None:
        pass


# --- validation ----------------------------------------------------------------


class Validation(Part):
    phases = (("leg1",), ("leg2",))

    def __init__(self, ctx, record) -> None:
        super().__init__(ctx, record)
        n_docs = 2_000 if ctx.smoke else 40_000
        self.spec = SeqSpec(seed=ctx.seed, n_docs=n_docs, n_parts=8, n_buckets=4)
        self.batch_parts = 4          # 2 checkpoint batches
        self.leg1_batches = 1         # the simulated kill after the first

    def sizes(self) -> dict:
        return {**self.spec.__dict__, "batch_parts": self.batch_parts,
                "leg1_batches": self.leg1_batches}

    def setup(self) -> None:
        from log_anomaly_detector_spark import storage
        from log_anomaly_detector_spark.config import RuleConfig
        from log_anomaly_detector_spark.datagen import gen_allowed_sources

        ctx = self.ctx
        with ctx.spans.span("datagen.write"):
            self.paths = write_sequence_tables(ctx.spark, self.spec, os.path.join(ctx.work, "seqs"))
        with ctx.spans.span("storage.register"):
            b = self.spec.n_buckets
            self.seqs = storage.register_bucketed(
                ctx.spark, "bench_sequences", storage.SEQ_DDL, self.paths["sequences"],
                n_buckets=b, partition_col="part_id")
            self.snap = storage.register_bucketed(
                ctx.spark, "bench_snapshot", storage.SNAP_DDL, self.paths["snapshot"], n_buckets=b)
            self.allowed = gen_allowed_sources(ctx.spark)
            with open(self.paths["baseline"]) as f:
                self.baseline = json.load(f)
            self.part_ids = storage.list_partitions(self.paths["sequences"])
        # co-located layout → the zero-shuffle uniqueness plan, as run_validation.py
        self.cfg = RuleConfig(uniqueness_mode="direct")

    def _validate(self, out: str, **kw):
        from log_anomaly_detector_spark.engine import run_validation

        return run_validation(
            self.ctx.spark, self.seqs, self.snap, self.allowed, self.baseline, out,
            self.cfg, input_digest=f"bench:{self.spec}", part_ids=self.part_ids,
            batch_parts=self.batch_parts, **kw)

    def run(self, k: int, steps: dict) -> None:
        out = os.path.join(self.ctx.work, f"validate{k}")
        legs = []
        for leg, kw in (("leg1", {"max_batches": self.leg1_batches}), ("leg2", {})):
            def call(leg=leg, kw=kw):
                with self.ctx.tag(f"engine.{leg}", "engine.plan"):
                    return self._validate(out, **kw)
            legs.append(self.timed(steps, leg, call))
        self.outputs.append((out, legs))

    def _golden(self) -> dict:
        from log_anomaly_detector_spark.golden import (
            golden_labels,
            golden_partition_verdicts,
            golden_row_violations,
        )

        seq = self.seqs.toPandas()
        snap = self.snap.toPandas()
        sources = sorted(r["source"] for r in self.allowed.collect())
        viol = golden_row_violations(seq, snap, set(sources))
        pv = golden_partition_verdicts(seq, self.baseline, self.cfg, sources)
        labels = golden_labels(seq, viol, pv, self.cfg)
        rule_docs = viol.groupby(["part_id", "rule_id"])["doc_id"].nunique()
        return {
            "labels": {str(r.part_id): [r.label, r.score] for r in labels.itertuples()},
            "rule_docs": {f"{p}:{r}": int(n) for (p, r), n in rule_docs.items()},
            "digest": _digest(viol[["part_id", "doc_id", "rule_id"]].itertuples(index=False)),
        }

    def check(self) -> None:
        key = "golden-{seed}-{n_docs}-{n_parts}.json".format(**self.spec.__dict__)
        gold = _cached(os.path.join(self.ctx.cache, key), self._golden)
        first = self.leg1_batches * self.batch_parts
        for out, (leg1, leg2) in self.outputs:
            if leg1 is not None:  # exactly its batches validated and checkpointed
                done1 = {v["part_id"] for v in leg1.verdicts}
                self.record(len(done1) == first and leg1.metrics["partitions_skipped"] == 0,
                            f"leg1 validated {sorted(done1)}")
            if leg1 is None or leg2 is None:
                continue  # the failed leg is already counted
            # leg 2 skips exactly the leg-1 partitions and validates the rest;
            # the final verdicts, per-rule violating docs and violations
            # table equal the golden engine's
            done2 = {v["part_id"] for v in leg2.verdicts}
            problems = []
            if not (leg2.metrics["partitions_skipped"] == len(done1) and not done1 & done2
                    and done1 | done2 == set(self.part_ids)):
                problems.append(f"leg2 skipped {leg2.metrics['partitions_skipped']}, "
                                f"validated {sorted(done2)}")
            verdicts = {str(v["part_id"]): [v["label"], v["score"]]
                        for v in leg1.verdicts + leg2.verdicts}
            if verdicts != gold["labels"]:
                problems.append(f"verdicts {verdicts} != golden {gold['labels']}")
            rows = [(r["part_id"], r["doc_id"], r["rule_id"]) for r in
                    self.ctx.spark.read.parquet(os.path.join(out, "violations"))
                    .select("part_id", "doc_id", "rule_id").collect()]
            rule_docs: dict[str, set] = {}
            for pid, doc, rule in rows:
                rule_docs.setdefault(f"{pid}:{rule}", set()).add(doc)
            if {k: len(v) for k, v in rule_docs.items()} != gold["rule_docs"]:
                problems.append("per-rule violating docs differ from golden")
            if _digest(rows) != gold["digest"]:
                problems.append("violations digest differs from golden")
            self.record(not problems, "; ".join(problems))

    def install(self, tracer) -> None:
        from log_anomaly_detector_spark import engine, storage
        from log_anomaly_detector_spark.rules import fused

        # lazy plan builders: their tag stays on the calling thread for the
        # job that runs the plan right after
        tracer.wrap(engine, "duplicate_keys", "rules.dup_keys", tag="rules.dup_keys", sticky=True)
        tracer.wrap(engine, "stats_pass", "rules.stats", tag="rules.stats", sticky=True)
        tracer.wrap(fused, "fused_row_violations", "rules.violations",
                    tag="rules.violations", sticky=True)
        tracer.wrap(storage, "read_table", "storage.read_table", tag="engine.agg", sticky=True)
        tracer.wrap(storage, "overwrite_partitions", "storage.overwrite_partitions",
                    tag=lambda df, *a, **k: "rules.violations" if "rule_id" in df.columns
                    else "engine.commit")
        tracer.wrap(storage, "completed_partitions", "storage.completed_partitions")
        tracer.wrap(storage, "append_manifest", "storage.append_manifest")

    def layers(self, tracer) -> dict:
        from log_anomaly_detector_spark.storage import read_manifest

        spans = self.ctx.spans
        out_dir, legs = self.outputs[0]
        legs = [leg for leg in legs if leg is not None]
        out = {f"engine.job.{k}_s": sum(leg.metrics["job_secs"][k] for leg in legs)
               for k in ("stats", "violations", "dup_keys", "agg")}
        walls = [r["batch_wall_sec"] for r in read_manifest(out_dir)]
        engine_jobs = tracer.jobs_tagged("engine") + tracer.jobs_tagged("rules")
        out.update({
            "engine.batches": spans.count("storage.append_manifest"),
            "engine.batch_wall_s.p50": statistics.median(walls) if walls else 0.0,
            "engine.batch_wall_s.max": max(walls) if walls else 0.0,
            "engine.jobs": len(engine_jobs),
            "engine.driver_s": spans.total("engine.leg1") + spans.total("engine.leg2")
            - busy_s(engine_jobs),
            "storage.overwrite_partitions_s": spans.total("storage.overwrite_partitions"),
            "storage.overwrite_partitions.calls": spans.count("storage.overwrite_partitions"),
            "storage.manifest_s": spans.total("storage.completed_partitions")
            + spans.total("storage.append_manifest"),
            "storage.read_table_s": spans.total("storage.read_table"),
        })
        for rule, keys in (
            ("stats", ("task_s", "input_bytes", "shuffle_bytes", "skew")),
            ("violations", ("task_s", "input_bytes", "shuffle_bytes", "spill_bytes", "skew")),
            ("dup_keys", ("task_s", "input_bytes")),
        ):
            sums = stage_sums(tracer.jobs_tagged(f"rules.{rule}"))
            out.update({f"rules.{rule}.{k}": sums[k] for k in keys})
        out["rules.violations.python_bytes"] = tracer.python_bytes("rules.violations")
        return out


# --- parse → induce ---------------------------------------------------------------


class Parse(Part):
    phases = (("cold", "warm"),)

    def __init__(self, ctx, record) -> None:
        super().__init__(ctx, record)
        if ctx.smoke:
            self.spec = LogSpec(seed=ctx.seed, cold_lines=600, warm_lines=300, novel_every=50)
        else:
            self.spec = LogSpec(seed=ctx.seed, cold_lines=20_000, warm_lines=10_000,
                                novel_every=500)

    def sizes(self) -> dict:
        return dict(self.spec.__dict__)

    def setup(self) -> None:
        with self.ctx.spans.span("datagen.write"):
            self.logs = os.path.join(self.ctx.work, "logs")
            self.expect = write_logs(self.spec, self.logs)

    def _leg(self, leg: str, out: str, warm_dir: str | None) -> bool:
        from log_anomaly_detector_spark.pipeline import run_induction_pipeline

        if leg == "warm" and warm_dir is None:
            raise RuntimeError("cold leg failed; no templates to warm-start from")
        spark, tag = self.ctx.spark, self.ctx.tag
        with tag(f"pipeline.induce_{leg}", "pipeline.induce"):
            warm = spark.read.parquet(warm_dir) if warm_dir else None
            res = run_induction_pipeline(spark, os.path.join(self.logs, f"{leg}.log"),
                                         warm_templates=warm)
        with tag(f"pipeline.write_{leg}", "pipeline.write"):
            res.structured.write.mode("overwrite").parquet(f"{out}/{leg}/structured")
            res.templates.drop("tokens").write.mode("overwrite").parquet(f"{out}/{leg}/templates")
            res.verdicts.write.mode("overwrite").parquet(f"{out}/{leg}/verdicts")
        return True

    def run(self, k: int, steps: dict) -> None:
        out = os.path.join(self.ctx.work, f"parse{k}")
        cold = self.timed(steps, "cold", lambda: self._leg("cold", out, None))
        warm_dir = f"{out}/cold/templates" if cold else None
        warm = self.timed(steps, "warm", lambda: self._leg("warm", out, warm_dir))
        self.outputs.append((out, bool(cold), bool(warm)))

    def check(self) -> None:
        read = self.ctx.spark.read.parquet
        exp = self.expect
        for out, cold_ok, warm_ok in self.outputs:
            if cold_ok:  # the cold leg learns exactly the generator's templates
                cold = sorted(r["template"] for r in read(f"{out}/cold/templates").collect())
                self.record(cold == exp["cold_templates"], f"cold templates {cold}")
            if warm_ok:  # the warm leg founds and flags exactly what was planted
                new = sorted(r["template"] for r in
                             read(f"{out}/warm/templates").filter("is_new").collect())
                flagged = sorted(r["Content"] for r in
                                 read(f"{out}/warm/structured").filter("is_anomaly").collect())
                problems = []
                if new != exp["novel_templates"]:
                    problems.append(f"new templates {new}")
                if flagged != exp["planted_lines"]:
                    problems.append(f"{len(flagged)} flagged lines vs "
                                    f"{len(exp['planted_lines'])} planted")
                self.record(not problems, "; ".join(problems))

    def install(self, tracer) -> None:
        from log_anomaly_detector_spark.operators import template_induction

        tracer.wrap(template_induction, "induce_templates", "template_induction.induce",
                    tag="template_induction")

    def layers(self, tracer) -> dict:
        spans = self.ctx.spans
        ti = tracer.jobs_tagged("template_induction")
        sums = stage_sums(tracer.jobs_tagged("pipeline") + ti)

        def jobs_in(span_name: str) -> int:
            recs = [r for r in spans.records if r["name"] == span_name][:1]
            return sum(1 for r in recs for j in ti
                       if j["start"] and r["start"] <= j["start"] <= r["end"])

        return {
            "pipeline.induce_cold_s": spans.total("pipeline.induce_cold"),
            "pipeline.induce_warm_s": spans.total("pipeline.induce_warm"),
            "pipeline.write_cold_s": spans.total("pipeline.write_cold"),
            "pipeline.write_warm_s": spans.total("pipeline.write_warm"),
            "template_induction.jobs_cold": jobs_in("pipeline.induce_cold"),
            "template_induction.jobs_warm": jobs_in("pipeline.induce_warm"),
            "template_induction.task_s": stage_sums(ti)["task_s"],
            "sources.input_bytes": sums["input_bytes"],
            "pipeline.shuffle_bytes": sums["shuffle_bytes"],
            "pipeline.spill_bytes": sums["spill_bytes"],
        }


# --- operator queries --------------------------------------------------------------


class Queries(Part):
    def __init__(self, ctx, record) -> None:
        super().__init__(ctx, record)
        self.sf_dir = os.path.join(ctx.bench_dir, "data", "sf0.01")
        self.queries = QUERY_SET[:2] if ctx.smoke else QUERY_SET
        self.phases = (tuple(q for q, _ in self.queries),)

    def sizes(self) -> dict:
        return {"data": "sf0.01 (fixed)", "queries": [q for q, _ in self.queries]}

    def setup(self) -> None:
        from log_anomaly_detector_spark.operators import all_queries

        missing = [t for t in ("lineitem", "documents", "embeddings")
                   if not os.path.exists(os.path.join(self.sf_dir, f"{t}.parquet"))]
        if missing:
            raise FileNotFoundError(f"operator tables missing under {self.sf_dir}: {missing}")
        self.fns = all_queries()

    def run(self, k: int, steps: dict) -> None:
        results = {}
        for q, _ in self.queries:
            def call(q=q):
                with self.ctx.tag(f"query.{q}", f"query:{q}"):
                    return self.fns[q](self.ctx.spark, self.sf_dir).toPandas()
            pdf = self.timed(steps, q, call)
            if pdf is not None:
                results[q] = pdf
        self.outputs.append(results)

    def _oracle(self) -> dict:
        from log_anomaly_detector_spark.operators import all_oracles
        from log_anomaly_detector_spark.oracle_check import duck_connection, value_hash

        con = duck_connection(self.sf_dir)
        try:
            out = {}
            for q, _ in QUERY_SET:
                odf = con.execute(all_oracles()[q]).df()
                out[q] = {"rows": len(odf), "cols": sorted(odf.columns), "hash": value_hash(odf)}
            return out
        finally:
            con.close()

    def check(self) -> None:
        from log_anomaly_detector_spark.oracle_check import value_hash

        h = hashlib.sha256()
        for name in sorted(os.listdir(self.sf_dir)):
            with open(os.path.join(self.sf_dir, name), "rb") as f:
                h.update(name.encode() + hashlib.sha256(f.read()).digest())
        h.update(",".join(q for q, _ in QUERY_SET).encode())
        oracle = _cached(os.path.join(self.ctx.cache, f"oracle-{h.hexdigest()[:16]}.json"),
                         self._oracle)
        for results in self.outputs:
            for q, pdf in results.items():
                got = {"rows": len(pdf), "cols": sorted(pdf.columns), "hash": value_hash(pdf)}
                self.record(got == oracle[q], f"{q}: {got} != oracle {oracle[q]}")

    def layers(self, tracer) -> dict:
        spans = self.ctx.spans
        out = {}
        for q, _ in QUERY_SET:
            out[f"query.{q}.wall_s"] = spans.total(f"query.{q}")
            out[f"query.{q}.shuffle_bytes"] = stage_sums(tracer.jobs_tagged(f"query:{q}"))["shuffle_bytes"]
        for m in MODULES:
            sums = stage_sums([j for q, mod in QUERY_SET if mod == m
                               for j in tracer.jobs_tagged(f"query:{q}")])
            out[f"operators.{m}.task_s"] = sums["task_s"]
            out[f"operators.{m}.spill_bytes"] = sums["spill_bytes"]
        return out


# --- workloads ------------------------------------------------------------------------


class Workload:
    """Parts run in order within one pass; the pass's phases are the parts'
    phases in order (exactly two for every workload)."""

    def __init__(self, parts: tuple, ctx) -> None:
        self.parts = [p(ctx, self.record) for p in parts]
        self.phases = [ph for p in self.parts for ph in p.phases]
        self.passes: list[dict] = []   # step walls, one dict per pass
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, problem: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(problem)

    def sizes(self) -> dict:
        return {type(p).__name__: p.sizes() for p in self.parts}

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def run_pass(self) -> None:
        steps: dict[str, float] = {}
        for p in self.parts:
            p.run(len(self.passes), steps)
        self.passes.append(steps)

    def phase_walls(self, steps: dict) -> list[float]:
        return [sum(steps[s] for s in ph) for ph in self.phases]

    def check(self) -> None:
        for p in self.parts:
            p.check()

    def install(self, tracer) -> None:
        for p in self.parts:
            p.install(tracer)

    def layers(self, tracer) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.layers(tracer))
        return out


WORKLOADS = {
    "validate_resume": (Validation,),
    "parse_and_query": (Parse, Queries),
}

# --- metric names and units -----------------------------------------------------

END_TO_END = {
    "setup_s": "s",          # process start → session up, inputs written and registered
    "wall_s": "s",           # the fresh-session pass: phase 1 + phase 2
    "phase1_s": "s",         # validate_resume: leg 1; parse_and_query: cold + warm parse
    "phase2_s": "s",         # validate_resume: the resume leg; parse_and_query: the queries
    "step_geomean_s": "s",   # geometric mean of the pass's step walls
    "peak_rss_mb": "MB",     # driver + JVM + Python workers, summed
}

PER_LAYER = {
    "session.start_s": "s",
    "datagen.write_s": "s",
    "storage.register_s": "s",
    "engine.job.stats_s": "s",
    "engine.job.violations_s": "s",
    "engine.job.dup_keys_s": "s",
    "engine.job.agg_s": "s",
    "engine.batches": "count",
    "engine.batch_wall_s.p50": "s",
    "engine.batch_wall_s.max": "s",
    "engine.jobs": "count",
    "engine.driver_s": "s",
    "storage.overwrite_partitions_s": "s",
    "storage.overwrite_partitions.calls": "count",
    "storage.manifest_s": "s",
    "storage.read_table_s": "s",
    "rules.stats.task_s": "s",
    "rules.stats.input_bytes": "bytes",
    "rules.stats.shuffle_bytes": "bytes",
    "rules.stats.skew": "ratio",
    "rules.violations.task_s": "s",
    "rules.violations.input_bytes": "bytes",
    "rules.violations.shuffle_bytes": "bytes",
    "rules.violations.spill_bytes": "bytes",
    "rules.violations.skew": "ratio",
    "rules.violations.python_bytes": "bytes",
    "rules.dup_keys.task_s": "s",
    "rules.dup_keys.input_bytes": "bytes",
    "pipeline.induce_cold_s": "s",
    "pipeline.induce_warm_s": "s",
    "pipeline.write_cold_s": "s",
    "pipeline.write_warm_s": "s",
    "template_induction.jobs_cold": "count",
    "template_induction.jobs_warm": "count",
    "template_induction.task_s": "s",
    "sources.input_bytes": "bytes",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    **{f"query.{q}.{k}": u for q, _ in QUERY_SET
       for k, u in (("wall_s", "s"), ("shuffle_bytes", "bytes"))},
    **{f"operators.{m}.{k}": u for m in MODULES
       for k, u in (("task_s", "s"), ("spill_bytes", "bytes"))},
    "trace.wall_s": "s",     # the traced pass; minus an untraced wall_s = overhead
    "trace.self_s": "s",     # time inside the tracer's own status-store reads
}
