"""Benchmark harness — prints ONE JSON line.

Headline: end-to-end CDC replay→merge throughput (change-events/sec) on a
deterministic synthetic event log (zipf-skewed hot repos),
plus per-query timings of the analytics/training-data operators at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Env knobs:
  SPARK_GRAFT_SF_DIR   testdata dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] cores (default 32)
  SPARK_GRAFT_EVENTS   CDC log size for the replay bench (default 2_000_000)
  SPARK_GRAFT_EPOCHS   number of replay epochs (default 4)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        # shuffle partitions sized by DATA VOLUME, not core count: the 2M-
        # event replay shuffles ~400 MB → ~16 partitions of ~32 MB. On this
        # host that also matters for another reason (measured ±33%):
        # string-heavy reduce stages saturate the memory subsystem beyond
        # ~16 concurrent slots (BENCH.md host-envelope matrix).
        .config("spark.sql.shuffle.partitions", str(min(cpus, 16)))
        .config("spark.driver.memory", "24g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        .appName("bench")
        .getOrCreate()
    )


def bench_cdc_replay(spark, n_events: int, epochs: int, workdir: str) -> dict:
    """Generate a skewed CDC log to parquet (excluded from the timed
    section), then time the full replay→dedup→merge loop."""
    from pyspark.sql import functions as F

    from techtalk_data_pipeline_snowpark_spark.cdc import CdcEngine
    from techtalk_data_pipeline_snowpark_spark.fixtures.generators import change_events

    log_path = os.path.join(workdir, "events_log")
    change_events(
        spark, n_events, n_repos=200, paths_per_repo=5000, zipf_s=1.2, seed=42
    ).write.mode("overwrite").parquet(log_path)
    log = spark.read.parquet(log_path)
    max_lsn = n_events

    eng = CdcEngine(
        spark,
        os.path.join(workdir, "state"),
        key_cols=("repo", "path"),
        # buckets sized for the converged table (~900k rows ≈ 180 MB →
        # ~16 digestible bucket files), not for core count
        num_buckets=16,
    )
    t0 = time.time()
    results = eng.replay(log, max_lsn=max_lsn, epoch_size=(max_lsn + epochs - 1) // epochs)
    dt = time.time() - t0
    n_rows = eng.read_state().count()
    return {
        "replay_sec": dt,
        "events_per_sec": n_events / dt,
        "epochs": len(results),
        "final_rows": n_rows,
    }


def bench_bloom_amplification(spark) -> dict:
    """Write-amplification of a SELECTIVE merge, bloom vs bucket-grain.

    Reported as FILE COUNTS (drift-free on this noisy host — the claim is
    about how much gets rewritten, not how fast): identical 400k-row
    bucketed tables built by EIGHT appends (the CDC posture: files
    accumulate per bucket across epochs), then one 12-key upsert each.
    The bloom table must rewrite only the files that may contain a source
    key; the control rewrites every file of every touched bucket. Wall
    times ride along as informational extras (bloom build + probe overhead
    vs rewrite saved)."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from techtalk_data_pipeline_snowpark_spark.lake import LakeTable, merge_into

    schema = "repo string, path string, commit string, v long"

    def chunk(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("org/repo-"), (F.col("id") % 97).cast("string")).alias("repo"),
            F.concat(F.lit("src/f"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
            F.sha1(F.col("id").cast("string")).alias("commit"),
            F.col("id").alias("v"),
        )

    src = (
        spark.range(0, 12)
        .select(
            F.concat(F.lit("org/repo-"), (F.col("id") % 97).cast("string")).alias("repo"),
            F.concat(F.lit("src/f"), (F.col("id") * 6553).cast("string"), F.lit(".py")).alias("path"),
            F.lit("updated").alias("commit"),
            (F.col("id") + 1_000_000).alias("v"),
        )
    )
    out = {}
    root = _tf.mkdtemp(prefix="bench_bloom_")
    try:
        for tag, bloom in (("bloom", True), ("control", False)):
            t = LakeTable.create(
                spark,
                os.path.join(root, tag),
                spark.createDataFrame([], schema).schema,
                key_cols=["repo", "path"],
                num_buckets=8,
            )
            if bloom:
                t.enable_blooms()
            t0 = time.time()
            for i in range(8):
                t.append(chunk(i * 50_000, (i + 1) * 50_000))
            build_sec = round(time.time() - t0, 3)
            t0 = time.time()
            res = merge_into(t, src, on=["repo", "path"])
            merge_sec = round(time.time() - t0, 3)
            s = res.summary
            # exact rewrite count = the merge commit's remove list length
            entry = t.log_entries(t.latest_version(), t.latest_version())[0]
            out[tag] = {
                "files_rewritten": len(entry.get("remove", [])),
                "files_carried": s["files_carried"],
                "files_skipped_by_bloom": s["files_skipped_by_bloom"],
                "buckets_rewritten": s["buckets_rewritten"],
                "append_sec": build_sec,
                "merge_sec": merge_sec,
            }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    out["amplification_ratio_control_over_bloom"] = round(
        out["control"]["files_rewritten"] / max(1, out["bloom"]["files_rewritten"]), 2
    )
    return out


def bench_skewed_dedup(spark, sf_dir: str) -> dict:
    """Adversarially skewed corpus: the documents table plus a planted
    2,000-copy boilerplate mega-cluster. Proves the LSH quadratic tail is
    held by identical-signature collapse + the bucket cap (pairs grow
    linearly in the cluster, and truncation is reported, not silent)."""
    from pyspark.sql import functions as F

    from techtalk_data_pipeline_snowpark_spark.operators.dedup import (
        embedding_bucket_stats,
        embedding_near_dups,
        minhash_bucket_stats,
        minhash_near_dups,
        simhash64,
        simhash_bucket_stats,
        simhash_candidates,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    boiler = spark.range(2000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit(
            "standard license header boilerplate text repeated across the corpus " * 8
        ).alias("text"),
    )
    skewed = docs.unionByName(boiler)
    t0 = time.time()
    pairs = minhash_near_dups(skewed, "doc_id", "text", threshold=0.8)
    n_pairs = pairs.count()
    minhash_sec = round(time.time() - t0, 3)
    stats = minhash_bucket_stats(skewed, "doc_id", "text")

    # simhash over the same planted mega-cluster: identical-simhash collapse
    # holds the block self-join linear (2,000 copies → 1,999 star pairs)
    t0 = time.time()
    sim = simhash64(skewed, "doc_id", "text")
    n_sim_pairs = simhash_candidates(sim, "doc_id").count()
    simhash_sec = round(time.time() - t0, 3)
    sim_stats = simhash_bucket_stats(sim, "doc_id")

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # planted identical-embedding cluster (e.g. zero vectors after a bad
    # encode): collapse keeps the cell self-join linear here too
    emb_cluster = spark.range(2000).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        F.expr("transform(sequence(1, 64), i -> cast(0.25 as float))").alias("embedding"),
    )
    emb_skewed = emb.select("vec_id", "embedding").unionByName(emb_cluster)
    t0 = time.time()
    # 8 planes → 256 buckets over ~5k vectors: buckets hold ~20 vectors so
    # the within-bucket verify actually exercises pairs (12 planes gives
    # ~1 vector/bucket at this scale — zero candidates)
    n_emb_pairs = embedding_near_dups(
        emb_skewed, "vec_id", "embedding", threshold=0.4, num_planes=8
    ).count()
    emb_sec = round(time.time() - t0, 3)
    emb_stats = embedding_bucket_stats(emb_skewed, "vec_id", "embedding", num_planes=8)
    return {
        "minhash_skewed_sec": minhash_sec,
        "minhash_skewed_pairs": n_pairs,
        "minhash_bucket_stats": stats,
        "simhash_skewed_sec": simhash_sec,
        "simhash_skewed_pairs": n_sim_pairs,
        "simhash_bucket_stats": sim_stats,
        "embedding_lsh_sec": emb_sec,
        "embedding_lsh_pairs": n_emb_pairs,
        "embedding_bucket_stats": emb_stats,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("SPARK_GRAFT_EVENTS", "2000000"))
    epochs = int(os.environ.get("SPARK_GRAFT_EPOCHS", "4"))

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Host-noise probe: this machine's memory subsystem swings 2-3× between
    # identical runs on string-heavy stages (documented in BENCH.md round 1).
    # A fixed JVM-side string-hash workload, timed, makes each bench line
    # NORMALIZABLE: compare runs via ratio-to-probe, not absolute seconds.
    # Sampled THREE times (start / after the analytics queries / end) so the
    # normalization tracks drift WITHIN the run, not just at its start.
    from pyspark.sql import functions as _PF

    def host_probe() -> float:
        _p0 = time.time()
        (
            spark.range(0, 50_000_000)
            .select(_PF.xxhash64(_PF.concat(_PF.lit("probe-"), _PF.col("id").cast("string"))).alias("h"))
            .agg(_PF.count(_PF.when(_PF.col("h") % 2 == 0, 1)))
            .collect()
        )
        return round(time.time() - _p0, 3)

    # First sample in a fresh JVM is COLD — it measures JIT warmup (4-6x
    # slower than warm, measured), not host state. Keep it as the
    # r3-comparable headline number, but normalize by WARMED samples only.
    host_probe_cold_sec = host_probe()
    probes = [host_probe()]

    import __spark_entry__ as entry_mod

    bench_queries = [
        "q1_pricing_summary",
        "dq_overpaid",
        "three_way_join",
        "top_customers_90d",
        "latest_event_per_user",
        "exact_dedup_docs",
        "doc_fingerprint_docs",
        "token_stats_docs",
        "cosine_topk",
        "minhash_near_dup_docs",
        "simhash_docs",
        "merge_expression_key",
        "employee_industry_join",
        "cdc_replay_events",
    ]
    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    for name in bench_queries:
        t0 = time.time()
        n = qs[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)

    probes.append(host_probe())  # mid-run sample

    workdir = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        cdc = bench_cdc_replay(spark, n_events, epochs, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    timings["cdc_replay_synthetic"] = round(cdc["replay_sec"], 3)

    skew = bench_skewed_dedup(spark, sf_dir)
    timings["minhash_skewed"] = skew["minhash_skewed_sec"]
    timings["simhash_skewed"] = skew["simhash_skewed_sec"]
    timings["embedding_lsh"] = skew["embedding_lsh_sec"]

    bloom_amp = bench_bloom_amplification(spark)

    # round-5 hygiene/metadata ops: timed SEPARATELY (sidecar + extras),
    # NOT in the headline total, so `value` stays like-for-like comparable
    # with BENCH_r04
    new_ops_sec: dict[str, float] = {}
    for name in (
        "repetition_stats_docs",
        "redact_pii_docs",
        "line_dedup_docs",
        "metadata_agg_orders",
        "url_domains_docs",
        "blocklist_flag_docs",
        "exact_percentiles_orders",
        "ingest_dedup_docs",
        "incremental_jaccard_docs",
        "stratified_sample_docs",
        "vocab_coverage_docs",
        "pack_sequences_docs",
        "shuffle_rank_docs",
        "chunk_docs",
        "kmeans_clusters_embeddings",
        "semantic_dedup_embeddings",
        "ann_kmeans_ivf_embeddings",
        "tfidf_top_terms_docs",
        "bm25_search_docs",
        "hybrid_search_docs",
        "dsir_select_docs",
        "multitable_replay",
    ):
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        new_ops_sec[name] = round(time.time() - t0, 3)

    probes.append(host_probe())  # end-of-run sample
    probe_mean = round(sum(probes) / len(probes), 3)
    # Ratio-to-probe normalization (cross-round comparable BY CONSTRUCTION):
    # durations divide by the probe (dimensionless, lower = better);
    # throughput multiplies by it (probe-seconds' worth of work per event
    # stream second, higher = better). A 2× slower host doubles both the
    # query time and the probe, so the ratio cancels the host.
    queries_normalized = {
        k: round(v / probe_mean, 4) for k, v in timings.items()
    }
    total = round(sum(timings.values()), 3)
    # --- output contract (r4 verdict fix): the r4 driver recorded
    # BENCH_r04.json `parsed: null` because the single JSON line outgrew the
    # harness's stdout-tail capture. The HEADLINE line below stays compact
    # (value, per-query raw + normalized, ev/s, probes — a few hundred bytes)
    # and is printed LAST; everything bulky (bucket-stats blocks, the bloom
    # write-amplification table, per-epoch detail) goes to a sidecar file
    # whose path the headline carries.
    sidecar = {
        "cdc_final_rows": cdc["final_rows"],
        "minhash_skewed_pairs": skew["minhash_skewed_pairs"],
        "minhash_bucket_stats": skew["minhash_bucket_stats"],
        "simhash_skewed_pairs": skew["simhash_skewed_pairs"],
        "simhash_bucket_stats": skew["simhash_bucket_stats"],
        "embedding_lsh_pairs": skew["embedding_lsh_pairs"],
        "embedding_bucket_stats": skew["embedding_bucket_stats"],
        "bloom_merge_amplification": bloom_amp,
        "hygiene_ops_sec_not_in_total": new_ops_sec,
        "host_probe_cold_sec": host_probe_cold_sec,
    }
    sidecar_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_extras.json"
    )
    try:
        with open(sidecar_path, "w") as f:
            json.dump(sidecar, f, indent=1)
    except OSError:
        sidecar_path = None  # read-only checkout: headline still complete
    out = {
        "metric": "end-to-end CDC replay→merge + analytics suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "extras": {
            "cdc_events": n_events,
            "cdc_events_per_sec": round(cdc["events_per_sec"], 1),
            "cpus": cpus,
            "host_probe_secs": probes,
            "host_probe_mean_sec": probe_mean,
            "queries_normalized_to_probe": queries_normalized,
            "total_normalized_to_probe": round(total / probe_mean, 3),
            "cdc_events_per_sec_normalized": round(
                cdc["events_per_sec"] * probe_mean, 1
            ),
            "sidecar": sidecar_path,
        },
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
