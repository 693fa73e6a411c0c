"""Seeded workload inputs.

Engine tables come from the program's own generator (``datagen.GenSpec``);
the benchmark adds a dirty transform on top. Log files come from a generator
of HDFS-style lines kept here, with the planted counts returned alongside so
the output check knows what the program must find. Documents and embeddings
for the operator queries have the schema the queries read and the shape of
``tools/gen_scale_docs.py``, drawn from a seeded generator.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_anomaly_detector_spark import storage
from log_anomaly_detector_spark.datagen import (
    VOCAB_SIZE,
    GenSpec,
    gen_allowed_sources,
    gen_baseline_profile,
    gen_reference_snapshot,
    gen_sequences,
)


def dirty(seqs: DataFrame, seed: int, pct: int) -> DataFrame:
    """Give about ``pct`` percent of rows (chosen by a hash of doc_id) a
    first-token edit against the snapshot. Sizes are unchanged, so only the
    token-equality rule sees the edit."""
    pick = F.pmod(F.xxhash64("doc_id", F.lit(seed + 4242)), F.lit(100)) < pct
    edited = F.expr(
        f"concat(array(tokens[0] % {VOCAB_SIZE} + 1), "
        "slice(tokens, 2, size(tokens) - 1))"
    )
    return seqs.withColumn(
        "tokens", F.when(pick & F.col("tokens").isNotNull(), edited).otherwise(F.col("tokens"))
    )


def write_engine_tables(
    spark, root: str, spec: GenSpec, dirty_pct: int, n_buckets: int, cfg
) -> None:
    """Bucketed sequences (``dirty_pct`` percent of rows edited) + snapshot,
    allowed sources and the drift baseline under ``root`` (the layout
    ``run_validation.py --materialize`` writes)."""
    storage.write_bucketed(
        dirty(gen_sequences(spark, spec), spec.seed, dirty_pct), "perfbench_gen_seqs",
        os.path.join(root, "sequences_bucketed"), n_buckets=n_buckets,
        partition_col="part_id",
    )
    storage.write_bucketed(
        gen_reference_snapshot(spark, spec), "perfbench_gen_snap",
        os.path.join(root, "snapshot_bucketed"), n_buckets=n_buckets,
    )
    gen_allowed_sources(spark).write.mode("overwrite").parquet(
        os.path.join(root, "allowed_sources.parquet")
    )
    with open(os.path.join(root, "baseline.json"), "w") as f:
        json.dump(gen_baseline_profile(spark, spec, cfg), f)
    for name in ("perfbench_gen_seqs", "perfbench_gen_snap"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


# message templates in the HDFS DataNode shape; after the program's digit
# masking every line of one template has the same tokens
KNOWN_TEMPLATES = (
    "Receiving block blk_{p} src /10.0.{q}.{r} dest /10.0.0.9",
    "PacketResponder {q} for block blk_{p} terminating",
    "Verification succeeded for blk_{p}",
    "Deleting block blk_{p} file /data/part-{q}",
    "BLOCK NameSystem allocateBlock /user/job_{q}/part-{r} blk_{p}",
    "Served block blk_{p} to /10.0.{q}.{r}",
    "Exception in receiveBlock for block blk_{p} java.io.IOException",
    "Starting thread to transfer block blk_{p} to /10.0.{q}.{r}",
    "Received block blk_{p} of size {r} from /10.0.{q}.1",
    "writeBlock blk_{p} received exception java.io.EOFException",
)
# absent from the warm file; each starts with a word no known template
# starts with, so none can match a known template's tree leaf
NOVEL_TEMPLATES = (
    "Slow BlockReceiver write packet to mirror took {r}ms blk_{p}",
    "Checksum error in block blk_{p} from /10.0.{q}.{r}",
    "Reopen already-open block blk_{p} for append by DFSClient_{q}",
)
# lines per block id, on average; a block is anomalous when this share of
# its lines is novel (the pipeline's default threshold)
LINES_PER_BLOCK = 10
BLOCK_THRESHOLD = 0.2
# a stack-trace line: no ': ' separator, so the header format cannot parse it
UNPARSED_LINE = (
    "\tat org.apache.hadoop.hdfs.server.datanode.BlockReceiver"
    ".receivePacket(BlockReceiver.java:{r})"
)


def write_log(
    path: str,
    n_lines: int,
    seed: int,
    novel_share: float = 0.0,
    unparsed_share: float = 0.0,
) -> dict:
    """Write ``n_lines`` log lines and return the counts planted in them."""
    rng = random.Random(seed)
    n_blocks = max(n_lines // LINES_PER_BLOCK, 1)
    block_lines: dict[int, list[int]] = {}
    novel_used: set[int] = set()
    planted = {"lines": n_lines, "unparsed": 0, "novel_lines": 0}
    with open(path, "w") as f:
        for i in range(n_lines):
            u = rng.random()
            q, r = rng.randrange(250), rng.randrange(100_000)
            if u < unparsed_share:
                planted["unparsed"] += 1
                f.write(UNPARSED_LINE.format(r=r) + "\n")
                continue
            blk = rng.randrange(n_blocks)
            if u < unparsed_share + novel_share:
                k = rng.randrange(len(NOVEL_TEMPLATES))
                novel_used.add(k)
                planted["novel_lines"] += 1
                body = NOVEL_TEMPLATES[k].format(p=blk, q=q, r=r)
                anomalous = 1
            else:
                body = rng.choice(KNOWN_TEMPLATES).format(p=blk, q=q, r=r)
                anomalous = 0
            stats = block_lines.setdefault(blk, [0, 0])
            stats[0] += 1
            stats[1] += anomalous
            f.write(
                f"081109 {203500 + i % 400} {rng.randrange(1000)} INFO "
                f"dfs.DataNode$PacketResponder: {body}\n"
            )
    planted["new_templates"] = len(novel_used)
    planted["blocks"] = len(block_lines)
    planted["anomalous_blocks"] = sum(
        1 for n, a in block_lines.values() if round(a / n, 6) >= BLOCK_THRESHOLD
    )
    return planted


# the 50-word common vocabulary of tools/gen_scale_docs.py
COMMON_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark block "
    "node shard query plan join sort read write cache disk net warm cold byte "
    "page heap task stage core skew salt probe build map fold emit sink source "
    "field token label score bound limit range group"
).split()
DOC_WORDS = 20
EMBED_DIM = 64


def write_docs(root: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` under ``root``.

    Each document is 20 words, about 30% from the common vocabulary and the
    rest from a rare pool of ``n_docs / 10`` words. Every doc_id = 1 (mod 100)
    is a planted near-duplicate of its predecessor (only the last word
    differs), and every vec_id = 1 (mod 100) repeats its predecessor's
    vector, so the dedup and similarity queries have pairs to find."""
    rng = random.Random(seed)
    rare_pool = max(n_docs // 10, 1000)
    texts: list[str] = []
    for doc_id in range(n_docs):
        if doc_id % 100 == 1:
            words = texts[-1].split()[:-1] + [f"x{doc_id}"]
        else:
            words = [
                rng.choice(COMMON_WORDS) if rng.random() < 0.3
                else f"w{rng.randrange(rare_pool)}"
                for _ in range(DOC_WORDS)
            ]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array(["synthetic-scale"] * n_docs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(root, "documents.parquet"))

    vecs: list[list[float]] = []
    for vec_id in range(n_vecs):
        if vec_id % 100 == 1:
            vecs.append(vecs[-1])
        else:
            vecs.append([rng.uniform(-1.0, 1.0) for _ in range(EMBED_DIM)])
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([v % 16 for v in range(n_vecs)], pa.int32()),
    })
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))
