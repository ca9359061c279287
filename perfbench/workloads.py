"""Seed-list workloads of the crawl-engine benchmark, built from a seed.

Each workload is a seed list (and, where the workload fetches, a page
table) generated with the package's own corpus generators and written to
parquet before anything is timed. The engine only ever sees those
tables.

`gen_seeds_df` gives a duplicate or non-canonical arrival the same
`arrival_seq` as its original. The engine cuts micro-batches by ranges of
`arrival_seq` while the replay oracle cuts them by row count, so every
seed list here is renumbered to a dense, unique `arrival_seq` first; then
both cut identical batches.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gepris_spark.sources.corpus import gen_pages_df, gen_seeds_df

N_IMAGES = 24


@dataclass(frozen=True)
class Workload:
    name: str
    # catalogue items per GEPRIS context (projekt, person, institution)
    n_per_context: int
    # arrivals per micro-batch
    batch_size: int
    # True: every batch after the first re-lists earlier urls (recrawl)
    relist: bool
    # True: the visited urls are fetched and parsed after the frontier
    fetch: bool
    # batches of the untimed warm-up pass before the measured one
    warmup_batches: int


WORKLOADS = {
    w.name: w
    for w in (
        # throughput case: an all-new seed list on the GEPRIS host mix in
        # two large batches, then fetch and parse of every page, so per-row
        # compute dominates and URL-seen probes nearly all miss
        Workload(
            name="fresh-crawl",
            n_per_context=500,
            batch_size=800,
            relist=False,
            fetch=True,
            warmup_batches=2,
        ),
        # steady state of a re-listing crawl: about half of each later
        # batch re-discovers visited urls, so bloom hits pay the exact
        # anti-join; small batches expose the fixed cost of each batch
        Workload(
            name="recrawl",
            n_per_context=200,
            batch_size=300,
            relist=True,
            fetch=False,
            # the hit path (probe, exact anti-join) runs in every batch but
            # the first; with one warm-up run of it, the first measured
            # batches were still shedding JIT warm-up and ran up to 20%
            # slower than later ones
            warmup_batches=4,
        ),
    )
}


@dataclass(frozen=True)
class Inputs:
    seeds_path: str
    pages_path: str | None
    n_arrivals: int
    max_arrival: int


def _dense(df: DataFrame, order: list[str]) -> DataFrame:
    """Renumber `arrival_seq` to 0..n-1 in `order` (one partition; the
    seed lists here are a few thousand rows)."""
    w = Window.orderBy(*order)
    return df.withColumn("arrival_seq", (F.row_number().over(w) - 1).cast("long"))


def _relisted(catalogue: DataFrame, batch_size: int, seed: int) -> DataFrame:
    """Interleave the catalogue with re-listings of earlier arrivals.

    Batch 0 holds `batch_size` new rows. Every later batch holds
    `batch_size // 2` new rows followed by as many rows re-listed from the
    new rows of the batches before it, chosen by a seeded hash, so about
    half of those arrivals meet the URL-seen filter as already visited.
    """
    half = batch_size // 2
    n = catalogue.count()
    idx = F.col("arrival_seq")
    new = catalogue.withColumn(
        "arrival_seq",
        F.when(idx < batch_size, idx).otherwise(
            F.floor((idx - batch_size) / half) * batch_size
            + batch_size
            + (idx - batch_size) % half
        ),
    )
    n_batches = 1 + -(-(n - batch_size) // half) if n > batch_size else 1
    spark = catalogue.sparkSession
    k = F.floor(F.col("id") / half)
    j = F.col("id") % half
    picks = spark.range(half, n_batches * half).select(
        # earlier new rows of batch k: [0, batch_size + (k - 1) * half)
        F.pmod(
            F.xxhash64(F.lit(seed), F.lit("relist"), k, j), batch_size + (k - 1) * half
        ).alias("_src"),
        (k * batch_size + half + j).alias("_slot"),
    )
    relist = (
        picks.join(catalogue.withColumnRenamed("arrival_seq", "_src"), "_src")
        .withColumnRenamed("_slot", "arrival_seq")
        .drop("_src")
    )
    return new.unionByName(relist)


def generate(spark: SparkSession, workload: Workload, seed: int, out_dir: str) -> Inputs:
    """Write the workload's tables under `out_dir` and return their paths."""
    raw = gen_seeds_df(spark, workload.n_per_context, seed=seed)
    # an original sorts before its duplicate / non-canonical variants
    catalogue = _dense(raw, ["arrival_seq", "url"])
    seeds = (
        _dense(_relisted(catalogue, workload.batch_size, seed), ["arrival_seq"])
        if workload.relist
        else catalogue
    )
    seeds_path = os.path.join(out_dir, "seeds")
    seeds.write.mode("overwrite").parquet(seeds_path)
    seeds = spark.read.parquet(seeds_path)
    stats = seeds.agg(F.count(F.lit(1)), F.max("arrival_seq")).collect()[0]
    pages_path = None
    if workload.fetch:
        pages_path = os.path.join(out_dir, "pages")
        gen_pages_df(spark, seeds, n_images=N_IMAGES, seed=seed).write.mode(
            "overwrite"
        ).parquet(pages_path)
    return Inputs(seeds_path, pages_path, int(stats[0]), int(stats[1]))

