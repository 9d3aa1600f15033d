#!/usr/bin/env python
"""Extra benchmarks for optimization work (bench.py is FROZEN for the
driver's measurement; this file holds the guide-§1.4 noop-sink stage
isolation used to attribute pipeline_full's wall time).

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py [profile_pipeline|queries q1,q2,...]

Prints one JSON line per mode with per-stage seconds + load1 at start
and end (shared-host adjudication, CLAUDE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, fn, out, action=_noop):
    spark.sparkContext.setJobDescription(label)
    l0 = round(os.getloadavg()[0], 2)
    t0 = time.monotonic()
    res = fn()
    if action is not None and res is not None:
        action(res)
    dt = round(time.monotonic() - t0, 3)
    out[label] = {"sec": dt, "load0": l0, "load1": round(os.getloadavg()[0], 2)}
    spark.sparkContext.setJobDescription(None)
    return res


def profile_pipeline(spark, sf_dir):
    """Stage-isolated timing of pipeline_full's chain at sf_dir.

    Each stage is timed with its inputs MATERIALIZED (localCheckpoint)
    so the reading is that stage's own cost, not its prefix's.
    """
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from kgce import pipeline, tagging
    from kgce.operators import linking, sampling
    from kgce.operators import triples as triples_ops

    out: dict = {}
    docs = entry._t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(
            F.lit("HTTP://Example"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".COM:80/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=bench"),
        ).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )
    ev = docs.filter(
        sampling.hash_bucket(F.col("doc_id"), salt="eval") < 50000
    ).select("doc_id", "text")

    # ---- clean stages, incrementally (each rerun includes prefix; the
    # deltas attribute per-stage cost without materializing mid-chain,
    # matching what pipeline.run actually executes) ----
    _timed(spark, "clean:canon_urls", lambda: pipeline.clean_pages(
        pages, canonical_urls=True, exact_dedup=False, repetition=False), out)
    _timed(spark, "clean:+exact_dedup", lambda: pipeline.clean_pages(
        pages, canonical_urls=True, exact_dedup=True, repetition=False), out)
    _timed(spark, "clean:+repetition", lambda: pipeline.clean_pages(
        pages, canonical_urls=True, exact_dedup=True, repetition=True), out)
    _timed(spark, "clean:+boilerplate", lambda: pipeline.clean_pages(
        pages, canonical_urls=True, exact_dedup=True, repetition=True,
        boilerplate_min_df=3), out)
    cleaned = _timed(spark, "clean:+decontam(full)", lambda: pipeline.clean_pages(
        pages, canonical_urls=True, exact_dedup=True, repetition=True,
        boilerplate_min_df=3, eval_docs=ev, decontam_n=8), out)

    # materialize cleaned so downstream stage timings are their own
    cleaned = cleaned.localCheckpoint(eager=True)

    mentions = _timed(
        spark, "mentions:extract+checkpoint",
        lambda: linking._checkpoint(tagging.extract_mentions(cleaned)),
        out, action=None,  # _checkpoint is eager already
    )

    # ---- canonicalize sub-stages ----
    signed = _timed(
        spark, "canon:vocab+minhash+checkpoint",
        lambda: linking._checkpoint(
            linking.minhash_signatures(linking.entity_vocab(mentions))
        ),
        out, action=None,
    )
    edges = _timed(
        spark, "canon:lsh_pairs+verify",
        lambda: linking.verified_pairs(signed, 0.6),
        out,
    )
    comps = _timed(
        spark, "canon:connected_components",
        lambda: linking.connected_components(linking.verified_pairs(signed, 0.6)),
        out,
    )
    canon = _timed(
        spark, "canon:membership_join",
        lambda: signed.select("norm", "entity_key")
        .join(comps, signed.entity_key == comps.node, "left")
        .select(
            "norm",
            "entity_key",
            F.coalesce(F.col("component"), F.col("entity_key")).alias("canonical_id"),
        ),
        out,
    )

    # ---- triple chain off materialized mentions ----
    trips = _timed(
        spark, "triples:pairs+score+agg",
        lambda: triples_ops.aggregate_triples(
            triples_ops.score_pairs(triples_ops.candidate_pairs_grouped(mentions))
        ),
        out,
    )
    _timed(
        spark, "triples:canon_join",
        lambda: pipeline.attach_canonical_ids(trips, canon),
        out,
    )

    # ---- the whole composed job, exactly as bench.py times it ----
    from bench import _materialize
    for i in range(2):
        spark.sparkContext.setJobDescription(f"pipeline_full end-to-end #{i}")
        l0 = round(os.getloadavg()[0], 2)
        t0 = time.monotonic()
        _materialize(entry.pipeline_full(spark, sf_dir))
        out[f"pipeline_full:end_to_end#{i}"] = {
            "sec": round(time.monotonic() - t0, 3),
            "load0": l0, "load1": round(os.getloadavg()[0], 2),
        }
        spark.sparkContext.setJobDescription(None)
    return out


def time_queries(spark, sf_dir, names, runs=3):
    import __spark_entry__ as entry
    from bench import _materialize

    qs = dict(entry.queries())
    qs["pipeline_full"] = entry.pipeline_full
    qs["pipeline_full_prov"] = entry.pipeline_full_prov
    qs["strip_repeated_ngrams"] = entry.bench_strip_repeated_ngrams
    qs["domain_stats"] = entry.bench_domain_stats
    qs["link_pagerank"] = entry.bench_link_pagerank
    qs["lm_perplexity"] = entry.bench_lm_perplexity
    qs["kg_embed"] = entry.bench_kg_embed
    qs["rule_mining"] = entry.bench_rule_mining
    qs["communities"] = entry.bench_communities
    qs["recrawl_maintain"] = entry.bench_recrawl_maintain
    out: dict = {}
    for name in names:
        per = []
        l0 = round(os.getloadavg()[0], 2)
        for _ in range(runs):
            spark.sparkContext.setJobDescription(name)
            t0 = time.monotonic()
            _materialize(qs[name](spark, sf_dir))
            per.append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {
            "min": min(per), "runs": per,
            "load": [l0, round(os.getloadavg()[0], 2)],
        }
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from kgce.session import get_spark

    spark = get_spark("kgce-bench-extra", cores=cores,
                      shuffle_partitions=max(cores, 8))
    jvm = spark.sparkContext._jvm
    jvm.org.apache.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.window.WindowExec"
    ).setLevel(jvm.org.apache.log4j.Level.ERROR)
    # warmup: FS listing, JIT, Arrow worker pool
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.range(1000).selectExpr("sum(id)").collect()

    def _id(batches):
        for b in batches:
            yield b

    spark.range(cores * 4).repartition(cores).mapInPandas(_id, "id long").count()

    mode = sys.argv[1] if len(sys.argv) > 1 else "profile_pipeline"
    if mode == "profile_pipeline":
        out = profile_pipeline(spark, sf_dir)
    elif mode == "queries":
        names = sys.argv[2].split(",")
        runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
        out = time_queries(spark, sf_dir, names, runs=runs)
    else:
        raise SystemExit(f"unknown mode {mode}")
    print(json.dumps({"mode": mode, "sf_dir": sf_dir, "stages": out}))


if __name__ == "__main__":
    main()
