"""The benchmark's workloads.

Each workload has these steps, called by run.py:

* ``prepare``  — generate the seeded inputs and derive the expected output
  from them (cached by run.py, outside set-up time);
* ``register`` — make the inputs visible to the session (part of set-up);
* ``op``       — one user-visible operation into a fresh output directory;
* ``check``    — compare that directory with the expected output;
* ``replay``   — the same operation as a sequence of calls to the layers'
  public functions, each inside a span (traced runs only).

Each workload has one fixed configuration, the class constants. ``WHY`` says
why the benchmark has it; seed s runs on the inputs of seed s % ``POOL``,
because generating and checking inputs takes a JVM or a DuckDB oracle pass
and a full measurement (dozens of runs) has no time for that on every seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from log_anomaly_detector_spark import RULE_VERSIONS, storage
from log_anomaly_detector_spark.config import RuleConfig
from log_anomaly_detector_spark.datagen import GenSpec
from log_anomaly_detector_spark.engine import VERDICT_SCHEMA, run_validation
from log_anomaly_detector_spark.golden import (
    golden_labels,
    golden_partition_verdicts,
    golden_row_violations,
)
from log_anomaly_detector_spark.operators import all_oracles, all_queries
from log_anomaly_detector_spark.operators.caching import release_all
from log_anomaly_detector_spark.operators.template_induction import induce_templates
from log_anomaly_detector_spark.oracle_check import value_hash
from log_anomaly_detector_spark.pipeline import run_induction_pipeline
from log_anomaly_detector_spark.rules.column_stats import stats_pass, stats_verdicts
from log_anomaly_detector_spark.rules.drift import drift_verdicts
from log_anomaly_detector_spark.rules.fused import fused_row_violations
from log_anomaly_detector_spark.rules.uniqueness import duplicate_keys
from log_anomaly_detector_spark.sources.logtext import read_structured_logs

from perfbench import gen

# the fused plan's internal rule id for rows the Arrow UDF must still confirm
TOKEN_EQ_CANDIDATE = "_token_eq_candidate"


def _digest(rows) -> str:
    """Order- and multiplicity-free digest: the engine writes one violation
    row per physical row, so a duplicated doc_id repeats its triple."""
    h = hashlib.sha256()
    for r in sorted(set(rows)):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _read_rows(path: str, cols: list[str]) -> list[tuple]:
    if not os.path.isdir(path):
        return []
    t = pq.read_table(path, columns=cols, partitioning="hive")
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _dir_bytes(paths: list[str]) -> int:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class EngineWorkload:
    """``run_validation`` over a doc_id-bucketed table as a killed run (one
    batch of two partitions) followed by a resume into the same directory."""

    WHY = (
        "killed run, then resume, over 20% dirty rows in two batches: every "
        "engine layer runs; the stats scan, fused row rules and Arrow mismatch "
        "UDF take two thirds of a traced run"
    )
    POOL = 2
    N_DOCS, N_PARTS, N_BUCKETS = 60_000, 4, 4
    DIRTY_PCT = 20
    BATCH_PARTS, MAX_BATCHES = 2, 1

    # replay spans: (layer, counts recorded besides its self time)
    LAYERS = (
        ("engine.allowed_sources", ("jobs",)),
        ("storage.completed_partitions", ("rows",)),
        ("rules.uniqueness.duplicate_keys", ("rows", "jobs", "tasks")),
        ("rules.column_stats.stats_pass", ("rows", "jobs", "tasks")),
        ("rules.fused.fused_row_violations", ("rows", "jobs", "tasks")),
        ("rules.token_equality.first_mismatch", ("rows", "confirmed", "jobs", "tasks")),
        ("storage.overwrite_partitions", ("rows", "bytes", "jobs", "tasks")),
        ("storage.read_table", ("rows", "jobs", "tasks")),
        ("rules.verdicts", ()),
        ("engine.verdicts_write", ("rows", "jobs")),
        ("storage.append_manifest", ("rows",)),
    )
    PREFIX, OP_METRIC = "engine", "engine.run_validation"

    def __init__(self, name: str):
        self.name = name
        # the bucketed layout is what run_validation.py validates with
        # uniqueness_mode="direct"; every other rule setting is the default
        self.cfg = RuleConfig(uniqueness_mode="direct")

    def prepare(self, get_spark, root: str, seed: int) -> str:
        """Write the tables; returns the golden digest of their outputs."""
        spark = get_spark()
        spec = GenSpec(n_docs=self.N_DOCS, n_parts=self.N_PARTS, seed=seed)
        gen.write_engine_tables(spark, root, spec, self.DIRTY_PCT, self.N_BUCKETS, self.cfg)
        self.register(spark, root, seed)
        return self.expected()

    def register(self, spark, root: str, seed: int) -> None:
        self.root, self.spark = root, spark
        self.seqs = storage.register_bucketed(
            spark, "perfbench_sequences", storage.SEQ_DDL,
            os.path.join(root, "sequences_bucketed"),
            n_buckets=self.N_BUCKETS, partition_col="part_id",
        )
        self.snap = storage.register_bucketed(
            spark, "perfbench_snapshot", storage.SNAP_DDL,
            os.path.join(root, "snapshot_bucketed"), n_buckets=self.N_BUCKETS,
        )
        self.allowed = spark.read.parquet(os.path.join(root, "allowed_sources.parquet"))
        with open(os.path.join(root, "baseline.json")) as f:
            self.baseline = json.load(f)
        self.part_ids = storage.list_partitions(
            os.path.join(root, "sequences_bucketed")
        )
        self.input_digest = f"perfbench:{self.name}:{seed}"

    def expected(self) -> str:
        """Digest of the golden (plain pandas) verdicts and violation set."""
        seq = self.spark.read.parquet(
            os.path.join(self.root, "sequences_bucketed")
        ).toPandas()
        snap = self.spark.read.parquet(
            os.path.join(self.root, "snapshot_bucketed")
        ).toPandas()
        sources = sorted(r["source"] for r in self.allowed.collect())
        viol = golden_row_violations(seq, snap, set(sources))
        part = golden_partition_verdicts(seq, self.baseline, self.cfg, sources)
        labels = golden_labels(seq, viol, part, self.cfg)
        return _digest(
            [("v", int(p), d, r) for p, d, r in viol.itertuples(index=False)]
            + [("l", int(p), lab, round(s, 6)) for p, lab, s in labels.itertuples(index=False)]
        )

    def check(self, out: str) -> str:
        viol = _read_rows(os.path.join(out, "violations"), ["part_id", "doc_id", "rule_id"])
        verd = _read_rows(os.path.join(out, "verdicts"), ["part_id", "label", "score"])
        return _digest(
            [("v", int(p), d, r) for p, d, r in viol]
            + [("l", int(p), lab, round(s, 6)) for p, lab, s in verd]
        )

    # the killed run stops after MAX_BATCHES batches; the resume finishes
    PASSES = (MAX_BATCHES, None)

    def op(self, out: str) -> int:
        """Validate every partition into ``out``; returns rows validated."""
        rows = 0
        for max_batches in self.PASSES:
            res = run_validation(
                self.spark, self.seqs, self.snap, self.allowed, self.baseline,
                out, self.cfg, input_digest=self.input_digest,
                part_ids=self.part_ids, batch_parts=self.BATCH_PARTS,
                max_batches=max_batches,
            )
            rows += res.metrics["rows_validated"]
        return rows

    def replay(self, tr, out: str) -> int:
        """``op`` as run_validation's call sequence, single-threaded, one
        span per layer call plus the action the engine applies to it."""
        return sum(self._replay_pass(tr, out, m) for m in self.PASSES)

    def _replay_pass(self, tr, out, max_batches) -> int:
        spark, seqs, cfg = self.spark, self.seqs, self.cfg
        with tr.span("engine.allowed_sources") as c:
            sources = sorted(
                r["source"] for r in self.allowed.select("source").distinct().collect()
            )
            c["rows"] = len(sources)
        with tr.span("storage.completed_partitions") as c:
            done = storage.completed_partitions(out, self.input_digest, RULE_VERSIONS)
            c["rows"] = len(done)
        pending = [p for p in self.part_ids if p not in done]
        step = self.BATCH_PARTS
        batches = [pending[i : i + step] for i in range(0, len(pending), step)]
        if max_batches is not None:
            batches = batches[:max_batches]
        # a batch never covers the whole table, so the engine always runs
        # the global duplicate-key job
        with tr.span("rules.uniqueness.duplicate_keys") as c:
            dups = duplicate_keys(seqs, cfg).persist()
            c["rows"] = dups.count()
        viol_path = os.path.join(out, "violations")
        verd_path = os.path.join(out, "verdicts")
        total = 0
        for batch in batches:
            sub = seqs.filter(F.col("part_id").isin([int(p) for p in batch]))
            with tr.span("rules.column_stats.stats_pass") as c:
                stats_rows = [r.asDict() for r in stats_pass(sub, cfg, sources).collect()]
                c["rows"] = sum(r["n_rows"] for r in stats_rows)
            stats_by_part = {r["part_id"]: r for r in stats_rows}
            with tr.span("rules.fused.fused_row_violations") as c:
                viol, handle = fused_row_violations(sub, self.snap, self.allowed, dups)
                by_rule = {
                    r["rule_id"]: r["count"]
                    for r in handle.groupBy("rule_id").count().collect()
                }
                c["rows"] = sum(by_rule.values())
            with tr.span("rules.token_equality.first_mismatch") as c:
                tok = viol.filter(F.col("rule_id") == "token_equality").persist()
                confirmed = tok.count()
                c["rows"] = by_rule.get(TOKEN_EQ_CANDIDATE, 0)
                c["confirmed"] = confirmed
            with tr.span("storage.overwrite_partitions") as c:
                plain = viol.filter(F.col("rule_id") != "token_equality")
                storage.overwrite_partitions(
                    plain.unionByName(tok).repartition("part_id"), viol_path, batch
                )
                c["rows"] = confirmed + sum(
                    n for r, n in by_rule.items() if r != TOKEN_EQ_CANDIDATE
                )
                c["bytes"] = _dir_bytes(
                    [os.path.join(viol_path, f"part_id={p}") for p in batch]
                )
            tok.unpersist()
            handle.unpersist()
            with tr.span("storage.read_table") as c:
                written = storage.read_table(spark, viol_path)
                vio_stats = (
                    written.filter(F.col("part_id").isin([int(p) for p in batch]))
                    .rollup("part_id", "rule_id")
                    .agg(F.countDistinct("doc_id").alias("docs"), F.count(F.lit(1)).alias("rows"))
                    .filter(F.col("part_id").isNotNull())
                    .collect()
                    if written is not None
                    else []
                )
                c["rows"] = len(vio_stats)
            with tr.span("rules.verdicts"):
                verdicts, manifest = self._verdicts(batch, stats_rows, vio_stats, sources)
            with tr.span("engine.verdicts_write") as c:
                storage.overwrite_partitions(
                    spark.createDataFrame(verdicts, VERDICT_SCHEMA), verd_path, batch
                )
                c["rows"] = len(verdicts)
            with tr.span("storage.append_manifest") as c:
                storage.append_manifest(out, manifest)
                c["rows"] = len(manifest)
            total += sum(stats_by_part[p]["n_rows"] for p in batch if p in stats_by_part)
        dups.unpersist()
        return total

    def _verdicts(self, batch, stats_rows, vio_stats, sources):
        """run_validation's driver-side verdict assembly for one batch."""
        cfg, dp = self.cfg, self.cfg.score_round_dp
        docs_by_part_rule, any_docs, null_rows = {}, {}, {}
        for r in vio_stats:
            if r["rule_id"] is None:
                any_docs[r["part_id"]] = r["docs"]
            else:
                docs_by_part_rule[(r["part_id"], r["rule_id"])] = r["docs"]
                if r["rule_id"] == "null_tokens":
                    null_rows[r["part_id"]] = r["rows"]
        rule_rows = stats_verdicts(stats_rows, cfg, null_rows)
        rule_rows += drift_verdicts(stats_rows, self.baseline, cfg, sources)
        stats_by_part = {r["part_id"]: r for r in stats_rows}
        verdicts, manifest = [], []
        for pid in batch:
            n = stats_by_part[pid]["n_rows"] if pid in stats_by_part else 0
            vdocs = any_docs.get(pid, 0)
            score = round(vdocs / n, dp) if n else 0.0
            failed = sorted(
                r["rule_id"] for r in rule_rows
                if r["part_id"] == pid and not r["passed"]
                and r["rule_id"] in cfg.partition_rules
            )
            label = "Anomaly" if (score >= cfg.seq_threshold or failed) else "Normal"
            verdicts.append((pid, label, score, n, vdocs, failed))
            stats_digest = hashlib.sha256(
                json.dumps(
                    {k: str(v) for k, v in sorted(stats_by_part.get(pid, {}).items())},
                    sort_keys=True,
                ).encode()
            ).hexdigest()[:16]
            manifest.append({
                "part_id": pid, "status": "done", "label": label, "score": score,
                "n_rows": n, "input_digest": self.input_digest,
                "rule_versions": RULE_VERSIONS, "stats_digest": stats_digest,
            })
        return verdicts, manifest


class ParseWorkload:
    """``pipeline.run_induction_pipeline`` plus the four table writes of
    ``tools/parse_logs.py``, warm-started from templates learned on a
    disjoint file of known templates only."""

    WHY = (
        "warm-started log parse, Drain induction and four table writes: the "
        "only workload where logtext and template_induction do the work"
    )
    POOL = 3
    N_LINES, N_WARM_LINES = 25_000, 3_000
    NOVEL_SHARE, UNPARSED_SHARE = 0.02, 0.01

    LAYERS = (
        ("sources.logtext.read_structured_logs", ("rows", "unparsed", "jobs", "tasks")),
        (
            "operators.template_induction.induce_templates",
            ("templates", "new_templates", "jobs", "tasks"),
        ),
        ("pipeline.verdict_write", ("blocks", "jobs", "tasks")),
    )
    PREFIX, OP_METRIC = "pipeline", "pipeline.run_induction_pipeline"

    def __init__(self, name: str):
        self.name = name

    def _warm_dir(self, root: str) -> str:
        # shared by every seed: after digit masking, the templates learned
        # from known-template lines do not depend on the seed
        return os.path.join(
            os.path.dirname(root), f"warm-{self.name}"
        )

    def prepare(self, get_spark, root: str, seed: int) -> dict:
        """Write the log (and, once, the warm template dim); returns the
        counts planted in the log."""
        warm = self._warm_dir(root)
        if not os.path.isdir(os.path.join(warm, "templates")):
            shutil.rmtree(warm, ignore_errors=True)
            os.makedirs(warm)
            gen.write_log(os.path.join(warm, "warm.log"), self.N_WARM_LINES, seed=0)
            spark = get_spark()
            res = run_induction_pipeline(spark, os.path.join(warm, "warm.log"))
            res.templates.drop("tokens").write.parquet(os.path.join(warm, "templates"))
            reset_caches(spark)
        return gen.write_log(
            os.path.join(root, "input.log"), self.N_LINES, seed,
            self.NOVEL_SHARE, self.UNPARSED_SHARE,
        )

    def register(self, spark, root: str, seed: int) -> None:
        self.spark, self.root = spark, root
        self.log = os.path.join(root, "input.log")
        self.warm = spark.read.parquet(os.path.join(self._warm_dir(root), "templates"))

    def check(self, out: str) -> dict:
        """The counts a user reads off the four output tables."""
        structured = pq.read_table(
            os.path.join(out, "structured"), columns=["_parsed", "is_anomaly"]
        )
        parsed = structured.column("_parsed").to_pylist()
        anomalous = structured.column("is_anomaly").to_pylist()
        verdicts = pq.read_table(os.path.join(out, "verdicts"), columns=["label"])
        return {
            "lines": len(parsed),
            "unparsed": sum(1 for p in parsed if not p),
            "novel_lines": sum(1 for a in anomalous if a),
            "new_templates": pq.read_table(os.path.join(out, "new_templates")).num_rows,
            "blocks": verdicts.num_rows,
            "anomalous_blocks": sum(
                1 for v in verdicts.column("label").to_pylist() if v == "Anomaly"
            ),
        }

    def _write(self, out: str, structured, templates, new_templates, verdicts) -> None:
        structured.write.mode("overwrite").parquet(f"{out}/structured")
        templates.drop("tokens").write.mode("overwrite").parquet(f"{out}/templates")
        new_templates.drop("tokens").write.mode("overwrite").parquet(f"{out}/new_templates")
        verdicts.write.mode("overwrite").parquet(f"{out}/verdicts")

    def op(self, out: str) -> int:
        res = run_induction_pipeline(self.spark, self.log, warm_templates=self.warm)
        self._write(out, res.structured, res.templates, res.new_templates, res.verdicts)
        return self.N_LINES

    def replay(self, tr, out: str) -> int:
        """``op`` split at the pipeline's stage boundaries: parse, induce,
        then the verdict join and the four writes."""
        with tr.span("sources.logtext.read_structured_logs") as c:
            structured = read_structured_logs(self.spark, self.log).cache()
            row = structured.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((~F.col("_parsed")).cast("int")).alias("unparsed"),
            ).first()
            c["rows"], c["unparsed"] = row["n"], row["unparsed"]
        with tr.span("operators.template_induction.induce_templates") as c:
            lines = structured.filter("_parsed").select(
                F.col("LineId").alias("line_id"),
                F.split(F.trim("EventTemplate"), " +").alias("tokens"),
            )
            res = induce_templates(lines, warm_templates=self.warm)
            is_new = [r["is_new"] for r in res.templates.select("is_new").collect()]
            c["templates"], c["new_templates"] = len(is_new), sum(is_new)
        with tr.span("pipeline.verdict_write") as c:
            flags = res.assignments.join(
                F.broadcast(res.templates.select("event_id", "is_new")), "event_id", "left"
            ).select(
                F.col("line_id").alias("LineId"), "event_id",
                F.coalesce("is_new", F.lit(True)).alias("is_anomaly"),
            )
            flagged = structured.join(F.broadcast(flags), "LineId", "left")
            per_block = (
                flagged.select(F.explode("BlockIds").alias("block_id"), "is_anomaly")
                .groupBy("block_id")
                .agg(
                    F.count(F.lit(1)).alias("n_lines"),
                    F.sum(F.col("is_anomaly").cast("int")).alias("n_anomalous"),
                )
            )
            score = F.round(F.col("n_anomalous") / F.col("n_lines"), 6)
            verdicts = per_block.select(
                "block_id", "n_lines", score.alias("anomaly_score"),
                F.when(score >= F.lit(0.2), F.lit("Anomaly")).otherwise(F.lit("Normal")).alias("label"),
            )
            self._write(out, flagged, res.templates,
                        res.templates.filter(F.col("is_new")), verdicts)
            c["blocks"] = pq.read_table(
                os.path.join(out, "verdicts"), columns=["label"]
            ).num_rows
        return self.N_LINES


class QueryWorkload:
    """One operator query per operator module, over generated documents and
    embeddings in the schema the queries read; each result is checked
    against the module's DuckDB oracle."""

    WHY = (
        "one operator query per module (relational, text, dedup_clusters, "
        "spell_match, similarity) over generated docs: the only workload where "
        "operators.* do the work"
    )
    POOL = 3
    N_DOCS, N_VECS = 2_000, 1_000
    # (module, query, table it reads); dedup_clusters runs text's
    # jaccard_near_dup under it
    QUERIES = (
        ("relational", "fixed_window_chunks", "documents"),
        ("text", "quality_score", "documents"),
        ("dedup_clusters", "dedup_clusters", "documents"),
        ("spell_match", "spell_match", "documents"),
        ("similarity", "cosine_topk", "embeddings"),
    )
    LAYERS = tuple((f"operators.{m}.{q}", ("rows", "jobs", "tasks")) for m, q, _ in QUERIES)
    PREFIX, OP_METRIC = "operators", "operators.queries"

    def __init__(self, name: str):
        self.name = name
        self.results: dict = {}

    def prepare(self, get_spark, root: str, seed: int) -> dict:
        """Write the tables; returns each query's oracle value hash."""
        import duckdb

        gen.write_docs(root, self.N_DOCS, self.N_VECS, seed)
        con = duckdb.connect()
        for table in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{root}/{table}.parquet'"
            )
        oracles = all_oracles()
        expected = {q: value_hash(con.execute(oracles[q]).df()) for _, q, _ in self.QUERIES}
        con.close()
        return expected

    def register(self, spark, root: str, seed: int) -> None:
        self.spark, self.root = spark, root
        self.queries = all_queries()
        self.rows = sum(
            self.N_DOCS if table == "documents" else self.N_VECS
            for _, _, table in self.QUERIES
        )

    def check(self, out: str) -> dict:
        return {q: value_hash(df) for q, df in self.results.items()}

    def _run(self, query: str):
        # no query may read another's cached subplans
        release_all()
        df = self.queries[query](self.spark, self.root).toPandas()
        self.results[query] = df
        return df

    def op(self, out: str) -> int:
        """Every query, collected to the driver; returns input rows read."""
        self.results = {}
        for _, q, _ in self.QUERIES:
            self._run(q)
        return self.rows

    def replay(self, tr, out: str) -> int:
        self.results = {}
        for m, q, _ in self.QUERIES:
            with tr.span(f"operators.{m}.{q}") as c:
                c["rows"] = len(self._run(q))
        return self.rows


def reset_caches(spark) -> None:
    """Drop every cached plan, so the next operation starts as a fresh CLI
    invocation would (Spark substitutes any matching cached subplan)."""
    release_all()
    spark.catalog.clearCache()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path
