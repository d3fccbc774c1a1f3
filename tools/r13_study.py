"""Round-13 measurements (appended to BASELINE.md / SCALING.md by hand):

1. Isolated best-of-3 records for the heavy r12 catalog additions that
   only had in-batch samples (VERDICT r12 #4): pagerank_crawl_links,
   embedding_pca_scores, sitemap_discovery_frontier, hits_links,
   split_dedup_aware, split_neardup_aware — plus the new r13
   csv_roundtrip_agg. Fresh session, unpersist + GC between runs,
   sf0.1 — same protocol as the r6/r7 records tables.

2. 1x/4x/16x scaling rows for the same seams, driven through the
   underlying operators over constant-density synthesized inputs
   (ids offset per copy; text salted so near-dup structure stays
   realistic), matching tools/scale_check.py's method.

Usage: python tools/r13_study.py [records|scaling [seam ...]]

``scaling`` runs every seam unless seam names are given (e.g.
``scaling hits_links``); each row also prints the Spark jobs it fired.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

RECORD_QUERIES = [
    "pagerank_crawl_links",
    "embedding_pca_scores",
    "sitemap_discovery_frontier",
    "hits_links",
    "split_dedup_aware",
    "split_neardup_aware",
    "csv_roundtrip_agg",
]


def _cleanup(spark) -> None:
    try:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
        spark.sparkContext._jvm.System.gc()
    except Exception as e:  # noqa: BLE001
        print(f"cleanup failed: {e!r}", file=sys.stderr)


def records() -> None:
    import __spark_entry__ as entrymod
    from datamancer_spark import get_spark

    spark = get_spark(app_name="r13-bestof")
    qs = entrymod.queries()
    # codec/Arrow warmup, untimed (bench.py's protocol)
    qs["q6_revenue_delta"](spark, SF_DIR).count()
    print(f"# isolated best-of-3, {SF_DIR}")
    for name in RECORD_QUERIES:
        runs = []
        for _ in range(3):
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.time() - t0, 2))
            _cleanup(spark)
        print(f"{name}: runs={runs} best={min(runs)}")


def _scaled_ids(spark, n_base: int, copies: int):
    """doc_id frame at copies x n_base, contiguous — the fixture blobs
    key everything off doc_id arithmetic, so a bigger contiguous range
    IS the scaled corpus."""
    return spark.range(n_base * copies).select(
        F.col("id").cast("long").alias("doc_id")
    )


def scaling(seams=()) -> None:
    import __spark_entry__ as entrymod
    from datamancer_spark import get_spark, load_tables
    from datamancer_spark.operators.components import (
        connected_components,
        hits,
        pagerank,
    )
    from datamancer_spark.operators.fixtures import (
        synth_blob_frame,
        warc_link_blob,
    )
    from datamancer_spark.operators.robots import (
        parse_robots,
        robots_sitemaps,
        robots_url_filter,
    )
    from datamancer_spark.operators.sampling import hash_split
    from datamancer_spark.operators.similarity import pca_power_scores
    from datamancer_spark.operators.sitemap import sitemap_url_frontier
    from datamancer_spark.operators import dedup as D

    spark = get_spark(app_name="r13-scaling")
    doc = load_tables(spark, SF_DIR, ["documents"])["documents"].df
    emb = load_tables(spark, SF_DIR, ["embeddings"])["embeddings"].df
    n_docs = doc.count()
    print(f"# scaling 1x/4x/16x over n_docs={n_docs} base ({SF_DIR})")

    sc = spark.sparkContext

    def row(tag: str, fn) -> None:
        if seams and tag.split("(")[0] not in seams:
            return
        for copies in (1, 4, 16):
            group = f"{tag}-{copies}x"
            sc.setJobGroup(group, group)
            t0 = time.time()
            out_rows = fn(copies)
            dt = round(time.time() - t0, 2)
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            print(f"{tag} {copies}x: {dt}s rows={out_rows} jobs={jobs}")
            _cleanup(spark)

    def pagerank_seam(copies: int) -> int:
        ids = _scaled_ids(spark, n_docs, copies)
        from datamancer_spark.operators.warc import extract_links

        blobs = synth_blob_frame(ids, warc_link_blob)
        edges = extract_links(blobs).select(
            F.col("src_url").alias("src"), F.col("dst_url").alias("dst")
        )
        return pagerank(edges, damping=0.85, iters=10).count()

    def hits_seam(copies: int) -> int:
        n = n_docs * copies
        ids = _scaled_ids(spark, n_docs, copies)
        edges = ids.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 7 + 1) % n).alias("dst"),
        ).unionByName(
            ids.select(
                F.col("doc_id").alias("src"),
                ((F.col("doc_id") * 13 + 5) % n).alias("dst"),
            )
        )
        return hits(edges, iters=5, round_decimals=6).count()

    def sitemap_seam(copies: int) -> int:
        ids = _scaled_ids(spark, n_docs, copies)
        robots, fetched = entrymod._sitemap_fixture(spark, ids)
        ep = robots_sitemaps(robots)
        frontier = sitemap_url_frontier(fetched, entry_points=ep)
        rules = parse_robots(robots)
        return robots_url_filter(frontier, rules, "datamancer").count()

    def pca_seam(copies: int) -> int:
        copies_df = spark.range(copies).withColumnRenamed("id", "copy")
        n = emb.count()
        big = emb.crossJoin(copies_df).withColumn(
            "vec_id", F.col("vec_id") + F.col("copy") * n
        )
        return pca_power_scores(big.drop("copy")).count()

    def split_neardup_seam(copies: int) -> int:
        copies_df = spark.range(copies).withColumnRenamed("id", "copy")
        big = (
            doc.crossJoin(copies_df)
            .withColumn("doc_id", F.col("doc_id") + F.col("copy") * n_docs)
            .withColumn(
                "text",
                F.when(F.col("copy") == 0, F.col("text")).otherwise(
                    F.concat(
                        F.col("text"),
                        F.lit(" copyword"),
                        F.col("copy").cast("string"),
                    )
                ),
            )
            .drop("copy")
        )
        pairs = D.minhash_dedup_verified(big, threshold=0.5)
        cc = connected_components(pairs, src="id_a", dst="id_b")
        clustered = big.select("doc_id").join(
            cc, big.doc_id == cc.node, "left"
        ).select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("long")
            .alias("cluster"),
        )
        return hash_split(
            clustered, "cluster", {"train": 0.75, "test": 0.25}
        ).count()

    row("pagerank_crawl_links(seam)", pagerank_seam)
    row("hits_links(seam)", hits_seam)
    row("sitemap_discovery(seam)", sitemap_seam)
    row("embedding_pca(seam)", pca_seam)
    row("split_neardup(seam)", split_neardup_seam)


if __name__ == "__main__":
    what = sys.argv[1] if len(sys.argv) > 1 else "records"
    if what == "records":
        records()
    elif what == "scaling":
        scaling(sys.argv[2:])
    else:
        raise SystemExit(f"unknown mode {what!r}")
