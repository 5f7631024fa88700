"""Property-fuzz checkpoint/resume of the physical index build — the
north rule's "resumable from per-partition checkpoints" criterion.

The pinned test (`test_physical_index.py`) crashes once at a fixed
bucket; here each seed crashes at a RANDOM bucket, resumes, crashes
AGAIN at a later random bucket, resumes to completion, and the result
must be manifest-checksum-identical to a clean one-shot build AND
answer queries identically.  Also pins: resume on a complete index is
a no-op (idempotent re-submit, the Airflow-retry case), and each
crash leaves exactly the completed buckets' manifests (no partial
bucket ever has a manifest)."""

from __future__ import annotations

import json
import os
import random

import pytest

from elasticsearch_nlp_classifier_spark.index.blocks import (
    PhysicalIndex,
    build_physical_index,
)
from elasticsearch_nlp_classifier_spark.query.wand import wand_topk

N_BUCKETS = 8


def _manifest_shas(out):
    shas = {}
    for mf in sorted(os.listdir(f"{out}/manifests")):
        with open(f"{out}/manifests/{mf}") as f:
            shas[mf] = json.load(f)["checksum"]
    return shas


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(20260826)
    vocab = [f"t{i}" for i in range(30)] + ["import", "spark", "def"]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(3, 20))))
            for i in range(800)]
    d = spark.createDataFrame(rows, "doc_id bigint, text string").cache()
    d.count()
    return d


@pytest.mark.parametrize("seed", [11, 22, 33])
def test_fuzz_double_crash_resume_identical(spark, docs, seed,
                                            tmp_path_factory):
    rng = random.Random(seed)
    kw = dict(text_col="text", analyzer="simple_code", block_size=16,
              n_salts=4, salt_threshold=100, n_buckets=N_BUCKETS)
    base = tmp_path_factory.mktemp(f"fuzzres{seed}")
    clean, crashy = str(base / "clean"), str(base / "crashy")

    build_physical_index(docs, clean, **kw)

    c1 = rng.randint(0, N_BUCKETS - 3)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_physical_index(docs, crashy, fail_after_bucket=c1, **kw)
    assert len(os.listdir(f"{crashy}/manifests")) == c1 + 1

    remaining = N_BUCKETS - (c1 + 1)
    c2 = rng.randint(0, max(0, remaining - 2))
    with pytest.raises(RuntimeError, match="injected failure"):
        build_physical_index(docs, crashy, fail_after_bucket=c2, **kw)
    assert len(os.listdir(f"{crashy}/manifests")) == c1 + 1 + c2 + 1

    build_physical_index(docs, crashy, **kw)
    assert _manifest_shas(crashy) == _manifest_shas(clean)

    # idempotent re-submit on the complete index: nothing changes
    before = _manifest_shas(crashy)
    build_physical_index(docs, crashy, **kw)
    assert _manifest_shas(crashy) == before

    # and the resumed index answers queries identically
    q = spark.createDataFrame(
        [(0, "import spark"), (1, "t1 t2 t3")],
        "query_id int, query_text string")
    got = wand_topk(PhysicalIndex(crashy, spark), q, k=5,
                    analyzer="simple_code").collect()
    want = wand_topk(PhysicalIndex(clean, spark), q, k=5,
                     analyzer="simple_code").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
