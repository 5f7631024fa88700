#!/usr/bin/env python
"""Index-build job — the spark-submit entrypoint for posting-list
construction over the source-code corpus table.

Usage (cluster):
    zip -r engine.zip elasticsearch_nlp_classifier_spark
    spark-submit --master <master> --py-files engine.zip \
        jobs/build_index.py --input <corpus_path_or_table> \
        --output /path/to/index [--analyzer code] [--text-col content]

Usage (sandbox, two parallelism levels per BASELINE.md §3):
    spark-submit --master local[8]  jobs/build_index.py ...
    spark-submit --master local[32] jobs/build_index.py ...

The input is the Iceberg corpus table ``(repo, path, commit, lang,
content)`` (BASELINE.json input_hint); with no Iceberg runtime in the
sandbox an identically-schema'd parquet path is accepted (SURVEY §7).
The build is resumable: re-running with the same --output skips term
buckets whose per-partition manifest already exists (kill-and-rerun
produces a byte-identical logical index — tests/test_physical_index.py).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# Python UDF workers fork from a daemon that sees PYTHONPATH, not the
# driver's sys.path insert — without this a run from another cwd dies
# with ModuleNotFoundError inside any mapInArrow/mapInPandas stage.
# (On a real cluster ``--py-files engine.zip`` plays this role.)
os.environ["PYTHONPATH"] = _ROOT + (
    os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH") else ""
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="corpus parquet path or iceberg table name")
    ap.add_argument("--output", required=True, help="index output dir")
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--analyzer", default="code")
    ap.add_argument("--doc-id-col", default="doc_id")
    ap.add_argument("--assign-doc-ids", action="store_true",
                    help="derive dense doc_id over (repo, path, commit)")
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--n-salts", type=int, default=16)
    ap.add_argument("--salt-threshold", type=int, default=50_000)
    ap.add_argument("--verify-manifest", default=None,
                    help="sha256 manifest parquet to verify ingest against")
    ap.add_argument("--with-positions", action="store_true",
                    help="store per-occurrence token positions (pos_vb)")
    ap.add_argument("--with-offsets", action="store_true",
                    help="store positions + char offsets (off_vb/len_vb)")
    args = ap.parse_args()

    from elasticsearch_nlp_classifier_spark.corpus.doc_ids import (
        assign_doc_ids,
    )
    from elasticsearch_nlp_classifier_spark.sources import read_corpus
    from elasticsearch_nlp_classifier_spark.index.blocks import (
        build_physical_index,
    )
    from elasticsearch_nlp_classifier_spark.session import get_spark

    spark = get_spark(app_name="build-index")
    docs = read_corpus(spark, args.input)
    if args.assign_doc_ids:
        docs = assign_doc_ids(docs)

    if args.verify_manifest:
        from elasticsearch_nlp_classifier_spark.corpus import verify_ingest

        bad = verify_ingest(spark, docs, args.verify_manifest)
        if bad:
            raise SystemExit(f"ingest verification failed: {bad} bad rows")

    t0 = time.time()
    build_physical_index(
        docs,
        args.output,
        text_col=args.text_col,
        analyzer=args.analyzer,
        block_size=args.block_size,
        n_salts=args.n_salts,
        salt_threshold=args.salt_threshold,
        with_positions=args.with_positions,
        with_offsets=args.with_offsets,
    )
    wall = time.time() - t0
    n = docs.count()
    print(f"indexed {n} docs in {wall:.2f}s ({n / wall:.1f} docs/sec); "
          f"lineage: {args.output}/lineage.jsonl")
    spark.stop()


if __name__ == "__main__":
    main()
