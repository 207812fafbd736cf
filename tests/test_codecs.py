"""Codec-family contracts: every codec and image-fingerprint query against
its DuckDB oracle, and every executor-side codec kernel pickled BY VALUE.

The second check guards plain Spark sessions: their Python workers
cannot import this package, so a kernel that cloudpickle
serializes by reference (a module-level function, or a closure calling
one) dies on the executor with ModuleNotFoundError. The test captures the
kernels each codec query hands to ``mapInPandas`` and runs them in an
isolated interpreter (``-I``: no PYTHONPATH, no script directory) whose
working directory is outside the repo."""

from __future__ import annotations

import pickle
import subprocess
import sys

import pandas as pd
import pytest

from tests.conftest import SF_TEST
from tests.harness import compare

CODEC_QUERIES = [
    "mm_decode_ppm",
    "mm_decode_bmp",
    "mm_decode_wav",
    "mm_decode_png",
    "mm_decode_gif",
    "mm_decode_jpeg",
    "mm_decode_jpeg_color",
    "mm_decode_jpeg_progressive",
    "mm_image_dhash",
    "sim_image_hamming_topk",
]


@pytest.mark.parametrize("name", CODEC_QUERIES)
def test_codec_oracle_match(name, spark):
    r = compare(name, spark, SF_TEST, verbose=False)
    assert r["ok"], f"{name}: {r.get('issues')}"


# The nine two-stage codec pipelines (encode mapInPandas, decode
# mapInPandas); _image_dhash_plan is the un-memoized plan behind
# mm_image_dhash / dedup_image_dhash / sim_image_hamming_topk.
PIPELINES = [
    "mm_decode_ppm",
    "mm_decode_bmp",
    "mm_decode_wav",
    "mm_decode_png",
    "mm_decode_gif",
    "mm_decode_jpeg",
    "mm_decode_jpeg_color",
    "mm_decode_jpeg_progressive",
    "_image_dhash_plan",
]

# Runs in the isolated interpreter: unpickle each pipeline's (encode,
# decode) kernels, push the one-row batch through both, and report the
# decoded frame or the error, per pipeline.
_RUNNER = """
import pickle, sys
jobs = pickle.load(open(sys.argv[1], "rb"))
out = {}
for name, blob, batch in jobs:
    try:
        enc, dec = pickle.loads(blob)
        staged = next(enc(iter([batch])))
        out[name] = ("ok", next(dec(iter([staged]))))
    except Exception as e:
        out[name] = ("error", f"{type(e).__name__}: {e}")
out["_imported"] = sorted(
    m for m in sys.modules if m.startswith("databricks_feature_store")
)
pickle.dump(out, open(sys.argv[2], "wb"))
"""


@pytest.fixture(scope="module")
def isolated_runs(spark, tmp_path_factory):
    """Capture every pipeline's kernels, run them in process and in an
    isolated interpreter, and return {name: (in-process, isolated)}."""
    from pyspark import cloudpickle
    from pyspark.sql.classic.dataframe import DataFrame

    from databricks_feature_store_poc_spark.llm import multimodal as mm

    batch = pd.DataFrame(
        {"doc_id": [7], "text": ["héllo wörld — a codec round trip " * 3]}
    )
    orig = DataFrame.mapInPandas
    jobs, local = [], {}
    for name in PIPELINES:
        staged = []

        def spy(self, fn, schema, *args, **kwargs):
            staged.append(fn)
            return orig(self, fn, schema, *args, **kwargs)

        DataFrame.mapInPandas = spy
        try:
            getattr(mm, name)(spark, SF_TEST)
        finally:
            DataFrame.mapInPandas = orig
        assert len(staged) == 2, (name, staged)
        enc, dec = staged
        local[name] = next(dec(iter([next(enc(iter([batch])))])))
        jobs.append((name, cloudpickle.dumps((enc, dec)), batch))

    work = tmp_path_factory.mktemp("isolated")
    (work / "jobs.pkl").write_bytes(pickle.dumps(jobs))
    proc = subprocess.run(
        [sys.executable, "-I", "-c", _RUNNER, "jobs.pkl", "out.pkl"],
        cwd=work,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = pickle.loads((work / "out.pkl").read_bytes())
    assert out.pop("_imported") == []
    return {name: (local[name], out[name]) for name in PIPELINES}


@pytest.mark.parametrize("name", PIPELINES)
def test_codec_kernels_pickle_by_value(name, isolated_runs):
    local, (status, isolated) = isolated_runs[name]
    assert status == "ok", f"{name}: {isolated}"
    assert isolated.equals(local), (name, isolated, local)
    assert isolated["doc_id"].tolist() == [7]


@pytest.mark.parametrize("contract", ["gray", "color", "progressive"])
def test_jpeg_forged_dimensions_refused_before_allocation(contract):
    """A frame header claiming 2528x2528 pixels (99,856 blocks) on a
    ~600-byte payload returns the diagnostic row without sizing the
    coefficient buffers (51 MB of them): no scan codes that many blocks
    in so few bytes. The decode runs twice so the second run's peak
    excludes the Huffman tables the first one builds and memoizes."""
    import tracemalloc

    from databricks_feature_store_poc_spark.llm.multimodal import (
        JPEG_AC_BITS,
        JPEG_AC_VALS,
        _jpeg_writer_tools,
        _make_jpeg_decoder,
    )

    head, scan = _jpeg_writer_tools()
    sof = 0xC2 if contract == "progressive" else 0xC0
    ac = (b"\x10", bytes(JPEG_AC_BITS), bytes(JPEG_AC_VALS))
    payload = (
        head(sof, 2528, 2528, [(1, 0x11, 0)], 1, ac)
        + scan([(1, 0x00)], 0, 0, 0, lambda put, put_dc: put_dc(0))
        + b"\xff\xd9"
    )
    pdf = pd.DataFrame({"doc_id": [1], "payload": [payload]})
    decode = _make_jpeg_decoder(contract)
    next(decode(iter([pdf])))
    tracemalloc.start()
    try:
        row = next(decode(iter([pdf]))).iloc[0]
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert pd.isna(row["width"]) and row["header_consistent"] is not True
    assert peak < 8 << 20, peak
