"""Inputs and timed units of the spine workloads.

Every input is a pure function of the seed: pages and gold mentions come
from ``synth.make_page`` (the function ``generate_webpages`` maps over its
range) and the stream drops are cut from them with a seeded RNG.  Inputs
are written to parquet before any clock starts, so page generation is
set-up work, never pipeline work.

crawl   run_pipeline over a corpus whose vocabulary saturates (Zipf 1.2
        over few entities): per-page work (extract, properties, mention
        checkpoints) is the largest layer and pair work is small, as on
        web corpora that repeat names.
stream  start_incremental_er_stream drains a backlog of small drops, 8
        files per microbatch (the API's default); a fixed share of every
        drop after the first are syndicated copies of earlier pages (same
        text, new url), so clusters merge across batches.  The same
        MinHash and clustering code runs as many small calls, and every
        batch writes state, pairs and a full snapshot.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from berkeley_entity_spark.config import PipelineConfig, SynthConfig
from berkeley_entity_spark.synth import gold_with_ids, make_page

STAGE_TABLES = ("mentions", "candidate_pairs", "scored_pairs", "clusters")
STREAM_TABLES = ("state", "pairs", "assign")
FILES_PER_TRIGGER = 8  # read_page_stream's default maxFilesPerTrigger
MAX_BUCKET = 200  # start_incremental_er_stream's default hot-bucket cap
# synth.PAGES_SCHEMA / GOLD_SCHEMA as parquet writes them
PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GOLD_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("sent_idx", pa.int32()),
        ("start", pa.int32()),
        ("end", pa.int32()),
        ("surface", pa.string()),
        ("entity_id", pa.int64()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class BatchSize:
    n_pages: int
    n_entities: int
    zipf_s: float


@dataclass(frozen=True)
class StreamSize:
    n_drops: int  # drops in the timed backlog
    drop_pages: int
    syndicated: float  # share of each later drop that copies earlier pages
    warm_drops: int  # drops in the warm-up backlog
    n_entities: int


SIZES = {
    "crawl": BatchSize(n_pages=4000, n_entities=300, zipf_s=1.2),
    "stream": StreamSize(n_drops=40, drop_pages=10, syndicated=0.25, warm_drops=16, n_entities=300),
}
SMOKE_SIZES = {
    "crawl": BatchSize(n_pages=300, n_entities=40, zipf_s=1.2),
    "stream": StreamSize(n_drops=16, drop_pages=5, syndicated=0.25, warm_drops=8, n_entities=40),
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def fingerprint(df, *cols: str) -> tuple[int, int]:
    """(row count, xor of xxhash64 over the columns): order-free identity."""
    row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).collect()[0]
    return int(row[0]), int(row[1] or 0)


# ------------------------------------------------------------------ batch
@dataclass
class BatchInputs:
    pages_dir: str
    gold_dir: str
    n_pages: int


def _write_pages(cfg: SynthConfig, ids, pages_path: str, gold_path: str) -> None:
    """make_page over the ids -> one pages and one gold parquet file.
    make_page is the pure function generate_webpages maps over its range;
    calling it here keeps generation out of every Spark job."""
    pages, gold = [], []
    for i in ids:
        page, mentions = make_page(i, cfg)
        pages.append(page)
        gold.extend(mentions)
    pq.write_table(pa.Table.from_pylist(pages, schema=PAGES_ARROW), pages_path)
    pq.write_table(pa.Table.from_pylist(gold, schema=GOLD_ARROW), gold_path)


def stage_batch(root: str, seed: int, size: BatchSize, files: int) -> BatchInputs:
    cfg = SynthConfig(
        n_pages=size.n_pages, n_entities=size.n_entities, seed=seed, zipf_s=size.zipf_s
    )
    inputs = BatchInputs(os.path.join(root, "pages"), os.path.join(root, "gold"), size.n_pages)
    os.makedirs(inputs.pages_dir)
    os.makedirs(inputs.gold_dir)
    for k in range(files):
        name = f"part-{k:05d}.parquet"
        _write_pages(
            cfg,
            range(k, size.n_pages, files),
            os.path.join(inputs.pages_dir, name),
            os.path.join(inputs.gold_dir, name),
        )
    return inputs


def read_gold(spark, inputs: BatchInputs):
    """Gold mentions of the English pages, keyed like the pipeline's."""
    return gold_with_ids(spark.read.parquet(inputs.gold_dir)).where("lang = 'en'")


def pipeline_config(ckpt_dir: str) -> PipelineConfig:
    return PipelineConfig(checkpoint_dir=ckpt_dir)


def run_batch(spark, pages, ckpt_dir: str, store) -> tuple[float, object]:
    """One timed run_pipeline call over the staged pages.  The clusters
    stage is written before run_pipeline returns, so the wall covers the
    whole spine."""
    from berkeley_entity_spark.plans.pipeline import run_pipeline

    shutil.rmtree(ckpt_dir, ignore_errors=True)
    t0 = time.monotonic()
    res = run_pipeline(spark, pages, pipeline_config(ckpt_dir), store=store, resume=False)
    return time.monotonic() - t0, res


def stage_bytes(ckpt_dir: str) -> int:
    return sum(dir_bytes(os.path.join(ckpt_dir, t)) for t in STAGE_TABLES)


# ----------------------------------------------------------------- stream
@dataclass
class StreamInputs:
    backlog_dir: str
    warm_dir: str
    gold_dir: str  # (url, origin): a syndicated copy's origin is its source page
    n_pages: int
    n_batches: int


def _drops(pages: list[dict], size: StreamSize, seed: int) -> list[list[dict]]:
    """Cut the original pages into drops; every drop after the first
    carries copies of earlier pages under new urls."""
    rng = random.Random(seed)
    n_copy = round(size.drop_pages * size.syndicated)
    drops, published, nxt = [], [], 0
    for d in range(size.n_drops):
        k = size.drop_pages if d == 0 else size.drop_pages - n_copy
        drop = [{**p, "origin": p["url"]} for p in pages[nxt : nxt + k]]
        nxt += k
        if d > 0:
            for i, src in enumerate(rng.sample(published, n_copy)):
                url = f"https://mirror{rng.randrange(100)}.example.org/syndicated/{d}/{i}"
                drop.append({**src, "url": url})
        published.extend(drop[:k])
        drops.append(drop)
    return drops


def stage_stream(root: str, seed: int, size: StreamSize) -> StreamInputs:
    n_copy = round(size.drop_pages * size.syndicated)
    n_orig = size.drop_pages + (size.n_drops - 1) * (size.drop_pages - n_copy)
    cfg = SynthConfig(n_pages=n_orig, n_entities=size.n_entities, seed=seed)
    pages = [make_page(i, cfg)[0] for i in range(n_orig)]
    inputs = StreamInputs(
        *(os.path.join(root, d) for d in ("backlog", "warm", "gold")),
        n_pages=size.n_drops * size.drop_pages,
        n_batches=-(-size.n_drops // FILES_PER_TRIGGER),
    )
    for d in (inputs.backlog_dir, inputs.warm_dir, inputs.gold_dir):
        os.makedirs(d)
    gold = []
    for d, drop in enumerate(_drops(pages, size, seed)):
        gold.extend({"url": p["url"], "origin": p["origin"]} for p in drop)
        table = pa.Table.from_pylist(drop, schema=PAGES_ARROW)
        # FileStreamSource orders files by modification time: pin it so the
        # microbatches hold the same drops on every run
        mtime = 1_700_000_000 + d
        for target in [inputs.backlog_dir] + ([inputs.warm_dir] if d < size.warm_drops else []):
            path = os.path.join(target, f"drop-{d:05d}.parquet")
            pq.write_table(table, path)
            os.utime(path, (mtime, mtime))
    pq.write_table(pa.Table.from_pylist(gold), os.path.join(inputs.gold_dir, "gold.parquet"))
    return inputs


def stream_gold(spark, inputs: StreamInputs):
    """(doc_id, entity_id) with the stream's node ids: xxhash64(url)."""
    return spark.read.parquet(inputs.gold_dir).select(
        F.xxhash64("url").alias("doc_id"), F.xxhash64("origin").alias("entity_id")
    )


def stream_reference(spark, inputs: StreamInputs) -> set:
    """Batch connected components over the bucket-join pairs of every
    backlog page: what the drained stream's final snapshot must equal.
    Raises if a bucket exceeds the cap, where that equality stops holding."""
    from berkeley_entity_spark.operators.clustering import connected_components
    from berkeley_entity_spark.operators.dedup import minhash_band_buckets

    docs = spark.read.parquet(inputs.backlog_dir).select(F.col("url").alias("doc_id"), "text")
    buckets = minhash_band_buckets(docs).persist()
    biggest = buckets.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
    if biggest > MAX_BUCKET:
        raise RuntimeError(f"a stream bucket holds {biggest} docs, over the cap {MAX_BUCKET}")
    a = buckets.toDF("id_a", "bucket")
    pairs = (
        a.join(buckets.toDF("id_b", "bucket"), "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(F.xxhash64("id_a").alias("u"), F.xxhash64("id_b").alias("v"))
        .distinct()
    )
    reference = {(r[0], r[1]) for r in connected_components(pairs).collect()}
    buckets.unpersist()
    return reference


def run_stream(spark, backlog: str, out_root: str) -> tuple[float, list]:
    """Drain the backlog through a fresh incremental ER stream; returns the
    wall and every microbatch's StreamingQueryProgress."""
    from berkeley_entity_spark.streaming.ingest import start_incremental_er_stream

    shutil.rmtree(out_root, ignore_errors=True)
    dirs = [os.path.join(out_root, d) for d in (*STREAM_TABLES, "ckpt")]
    t0 = time.monotonic()
    q = start_incremental_er_stream(spark, backlog, *dirs)
    q.awaitTermination()
    wall = time.monotonic() - t0
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    return wall, progress


def final_snapshot(spark, out_root: str):
    snaps = spark.read.parquet(os.path.join(out_root, "assign"))
    last = snaps.agg(F.max("batch_id")).collect()[0][0]
    return snaps.where(F.col("batch_id") == last).select("doc_id", "cluster_id")


def stream_bytes(out_root: str) -> int:
    return sum(dir_bytes(os.path.join(out_root, t)) for t in STREAM_TABLES)
