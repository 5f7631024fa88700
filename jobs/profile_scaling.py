#!/usr/bin/env python
"""Stage-level profiler for the index-build scaling investigation.

Decomposes the build into sub-stages and times each at one core count
(run under ``taskset -c 0-{N-1}``), so the non-scaling component of the
encode phase can be identified instead of guessed:

  tok_agg      tokenize + fused per-doc tf aggregation (postings cache)
  ts_write     term_stats aggregation + parquet write
  doc_count    countDistinct(doc_id) over cached postings
  shuffle      repartition(tid, salt) exchange alone (consume, no sort)
  shuffle_sort exchange + sortWithinPartitions + Arrow transfer (noop py)
  encode       exchange + sort + varbyte encode (count only, no write)
  full_blocks  the real blocks stage: encode + hash + observe + write

Usage: taskset -c 0-7 python jobs/profile_scaling.py 8 /tmp/bench_corpus_240000
"""
import json
import os
import shutil
import sys
import tempfile
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# propagate to forked Python UDF workers (they see PYTHONPATH, not the
# driver's sys.path; --py-files plays this role on a real cluster)
os.environ["PYTHONPATH"] = _ROOT + (
    os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH") else ""
)
os.environ.setdefault("SPARK_GRAFT_SANDBOX", "1")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


def main():
    cores = int(sys.argv[1])
    corpus_dir = sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    from pyspark.sql import functions as F

    from elasticsearch_nlp_classifier_spark.corpus.doc_ids import (
        assign_doc_ids,
    )
    from elasticsearch_nlp_classifier_spark.index.blocks import (
        build_physical_index, encode_blocks, write_index, _choose_tid_seed,
        _tid_expr,
    )
    from elasticsearch_nlp_classifier_spark.index.build import (
        build_logical_index,
    )
    from elasticsearch_nlp_classifier_spark.session import (
        get_spark, warm_python_workers,
    )

    spark = get_spark(master=f"local[{cores}]",
                      app_name=f"profile-{cores}",
                      shuffle_partitions=max(8, cores))
    warm_python_workers(spark)
    docs = assign_doc_ids(
        spark.read.parquet(f"{corpus_dir}/corpus_docs.parquet"))
    docs.count()

    tmp = tempfile.mkdtemp(prefix=f"prof_{cores}_")
    # warmup: one full untimed build (JIT + page backing)
    wp = os.path.join(tmp, "warm")
    build_physical_index(docs, wp, text_col="content", analyzer="code")
    shutil.rmtree(wp, ignore_errors=True)

    out = {"cores": cores}

    def timed(name, fn, setup=None, teardown=None):
        best = None
        for _ in range(reps):
            state = setup() if setup else None
            t0 = time.time()
            fn(state)
            dt = time.time() - t0
            if teardown:
                teardown(state)
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 2)
        print(f"  {name}@{cores}: {best:.2f}s", file=sys.stderr, flush=True)

    # --- stage 1: tokenize + fused tf agg (postings materialize)
    def mk_postings():
        idx = build_logical_index(docs, "content", "code")
        return idx

    def tok_agg(_):
        idx = mk_postings()
        p = idx.postings.cache()
        p.count()
        p.unpersist()

    timed("tok_agg", tok_agg)

    # persistent postings cache for the downstream stages
    idx = mk_postings()
    postings = idx.postings.cache()
    postings.count()
    ts = idx.term_stats.cache()

    def ts_write(_):
        ts.coalesce(max(4, cores)).write.mode("overwrite").parquet(
            os.path.join(tmp, "ts"))

    timed("ts_write", ts_write)
    n_terms = ts.count()
    hot = [r[0] for r in ts.where(F.col("df") > 50_000)
           .select("term").collect()]

    def doc_count(_):
        postings.agg(F.countDistinct("doc_id")).collect()

    timed("doc_count", doc_count)

    stats_row = postings.agg(
        F.sum("tf").alias("sttf"), F.countDistinct("doc_id").alias("dc")
    ).collect()[0]
    avgdl = stats_row["sttf"] / stats_row["dc"]
    dc = stats_row["dc"]

    term_dict = ts.select("term").cache()
    seed = _choose_tid_seed(term_dict)
    n_shuffle = cores * 2

    range_salt = ((F.col("doc_id") - 1) * 16 / F.lit(dc + 1)).cast("int")
    salt = (F.when(F.col("term").isin(hot), range_salt).otherwise(F.lit(0))
            if hot else F.lit(0))
    slim = postings.withColumn("salt", salt).select(
        _tid_expr("term", seed).alias("tid"), "salt", "doc_id",
        F.col("tf").cast("int").alias("tf"),
        F.col("dl").cast("int").alias("dl"))

    # --- stage 2a: the exchange alone (no sort).  A count() would let
    # Catalyst prune columns, so consume via a summing noop mapInArrow.
    def consume_arrow(df):
        def noop(batches):
            import pyarrow as pa
            n = 0
            for rb in batches:
                n += rb.num_rows
            yield pa.RecordBatch.from_arrays(
                [pa.array([n], type=pa.int64())], ["n"])
        return df.mapInArrow(noop, "n bigint").agg(F.sum("n")).collect()

    timed("shuffle", lambda _:
          consume_arrow(slim.repartition(n_shuffle, "tid", "salt")))

    # --- stage 2b: exchange + JVM sort + Arrow transfer (noop python)
    timed("shuffle_sort", lambda _: consume_arrow(
        slim.repartition(n_shuffle, "tid", "salt")
        .sortWithinPartitions("tid", "salt", "doc_id")))

    # --- stage 2c: + the varbyte encoder (no dict join, no write)
    def encode_only(_):
        blocks = encode_blocks(
            postings, avgdl=avgdl, doc_count=dc, hot_terms=hot,
            term_dict=term_dict, shuffle_partitions=n_shuffle)
        blocks.count()

    timed("encode", encode_only)

    # --- stage 3: the real full blocks stage (hash + observe + write)
    def full_blocks(_):
        p2 = os.path.join(tmp, "idx_full")
        shutil.rmtree(p2, ignore_errors=True)
        write_index(idx, p2)
        shutil.rmtree(p2, ignore_errors=True)

    # full build (re-uses cached logical) for reference
    timed("full_build_cached_logical", full_blocks)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
