"""Round-14 additions: the BMP codec round-trip (second real byte-level
codec, pairing mm_decode_ppm — VERDICT r13 #7)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_TEST
from tests.harness import compare


def _expected(text):
    """Independent recompute of the mm_decode_bmp contract (mirrors the
    DuckDB oracle, not the encoder: dims from byte length, weighted
    checksum over the first min(n, 3wh) real UTF-8 bytes)."""
    if text is None:
        return (None, None, None, None, None, None)
    tb = text.encode("utf-8")
    n = len(tb)
    w, h = 5 + n % 7, 4 + (n // 7) % 6
    stride = (w * 3 + 3) // 4 * 4
    lim = min(n, w * h * 3)
    wsum = sum((i + 1) * tb[i] for i in range(lim)) % 65536
    return (w, h, stride, 54 + stride * h, True, wsum)


def _write_documents(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


CASES = [
    (1, ""),                      # 0 bytes: all-zero-pad image, wsum 0
    (2, "a"),                     # single byte
    (3, "héllo wörld"),           # multi-byte UTF-8 (per-BYTE weights)
    (4, "x" * 23),                # stride padding: w=5+23%7=7, 3w=21 -> pad 3
    (5, "y" * 500),               # longer than 3wh: truncation branch
    (6, None),                    # NULL text -> NULL metrics
    (7, "z" * 64),                # n%7==1 -> w=6, 3w=18 -> pad 2
]


def test_bmp_round_trip_matches_independent_contract(spark, tmp_path):
    from databricks_feature_store_poc_spark.llm.multimodal import (
        mm_decode_bmp,
    )

    sf = _write_documents(spark, tmp_path, CASES)
    out = {r["doc_id"]: r for r in mm_decode_bmp(spark, sf).collect()}
    assert len(out) == len(CASES)
    for doc_id, text in CASES:
        w, h, stride, nbytes, consistent, wsum = _expected(text)
        r = out[doc_id]
        got = (
            r["width"], r["height"], r["row_stride"], r["n_file_bytes"],
            r["header_consistent"], r["pixel_checksum_weighted"],
        )
        assert got == (w, h, stride, nbytes, consistent, wsum), (
            f"doc {doc_id!r} text {text!r}: {got}"
        )


def test_bmp_weighted_checksum_is_row_order_sensitive():
    """The reason the checksum is weighted: reading the stored
    (bottom-up) rows WITHOUT reversing must change the value whenever
    the image has >1 distinct row — the defect class an unweighted sum
    is blind to."""
    text = "abcdefghijklmnopqrstuvwxyz0123456789" * 4  # n=144: w=5,h=4
    tb = text.encode()
    n = len(tb)
    w, h = 5 + n % 7, 4 + (n // 7) % 6
    logical = tb[: w * h * 3].ljust(w * h * 3, b"\x00")
    row = w * 3
    rows = [logical[r * row:(r + 1) * row] for r in range(h)]
    top_down = b"".join(rows)
    bottom_up = b"".join(reversed(rows))
    wsum = lambda bs: sum((i + 1) * b for i, b in enumerate(bs)) % 65536
    assert wsum(top_down) != wsum(bottom_up)
    assert sum(top_down) == sum(bottom_up)  # the unweighted sum can't see it


# --- SqliteKV: real persistent online-serving backend (r14) ----------------


def test_sqlite_kv_full_sync_and_point_gets(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_feature_store_poc_spark.featurestore.online import (
        OnlineStoreSync,
        SqliteKV,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    table = (
        load_table(spark, SF_TEST, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .filter(F.col("c_custkey") <= 300)
    )
    kv = SqliteKV(str(tmp_path / "kv.db"))
    # writes happen in EXECUTOR worker processes (foreachPartition) —
    # the backend crosses the pickle boundary and reconnects per worker
    OnlineStoreSync(kv, ["c_custkey"], batch_size=64).full_sync(table)
    rows = table.collect()
    assert len(kv) == len(rows)
    for r in rows[:25]:
        assert kv.get((r["c_custkey"],)) == {
            "c_acctbal": r["c_acctbal"],
            "c_mktsegment": r["c_mktsegment"],
        }
    assert kv.get((-1,)) is None


def test_sqlite_kv_delta_sync_writes_only_changes(spark, tmp_path):
    from pyspark.sql import functions as F

    from databricks_feature_store_poc_spark.featurestore.online import (
        OnlineStoreSync,
        SqliteKV,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    base = (
        load_table(spark, SF_TEST, "customer")
        .select("c_custkey", "c_acctbal")
        .filter(F.col("c_custkey") <= 200)
    )
    kv = SqliteKV(str(tmp_path / "kv.db"))
    sync = OnlineStoreSync(kv, ["c_custkey"], batch_size=64)
    sync.full_sync(base)
    n_full = kv.stats()["n_writes"]

    changed = base.filter(F.col("c_custkey") <= 10).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1.0
    )
    kept = base.filter(
        (F.col("c_custkey") > 10) & (F.col("c_custkey") <= 195)
    )
    new = spark.createDataFrame(
        [(10_001, 1.0), (10_002, 2.0), (10_003, 3.0)],
        "c_custkey long, c_acctbal double",
    )
    snapshot2 = changed.unionByName(kept).unionByName(new)
    sync.delta_sync(base, snapshot2)

    stats = kv.stats()
    # the billed-traffic contract: only changed + new keys written
    assert stats["n_writes"] - n_full == changed.count() + new.count()
    assert stats["n_deletes"] == base.count() - changed.count() - kept.count()
    assert len(kv) == snapshot2.count()
    for r in snapshot2.collect():
        assert kv.get((r["c_custkey"],))["c_acctbal"] == r["c_acctbal"]


def test_sqlite_kv_point_get_p99_meets_reference_target(spark, tmp_path):
    """The reference's online tables serve at <10 ms p99 (README.md:115).
    SqliteKV is a real on-disk indexed read — measure p99 over 1000
    point gets on a fresh connection (no warm dict, unlike the
    OnlineStore emulation)."""
    import time

    from pyspark.sql import functions as F

    from databricks_feature_store_poc_spark.featurestore.online import (
        OnlineStoreSync,
        SqliteKV,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    table = (
        load_table(spark, SF_TEST, "customer")
        .select("c_custkey", "c_acctbal")
        .filter(F.col("c_custkey") <= 1500)
    )
    path = str(tmp_path / "kv.db")
    OnlineStoreSync(SqliteKV(path), ["c_custkey"], batch_size=256).full_sync(
        table
    )
    keys = [r["c_custkey"] for r in table.select("c_custkey").collect()]
    reader = SqliteKV(path)  # fresh connection: a serving process
    lat = []
    for i in range(1000):
        k = keys[(i * 7919) % len(keys)]
        t0 = time.perf_counter()
        assert reader.get((k,)) is not None
        lat.append(time.perf_counter() - t0)
    p99 = sorted(lat)[989]
    assert p99 < 0.010, f"p99 {p99 * 1e6:.0f}us exceeds the 10ms target"


# --- feature hashing + surprisal (r14) --------------------------------------


@pytest.mark.parametrize(
    "name", ["feature_hash_vectorize", "text_surprisal_proxy"]
)
def test_oracle_match_r14_text(name, spark):
    r = compare(name, spark, SF_TEST, verbose=False)
    assert r["ok"], f"{name}: {r.get('issues')}"


def test_hash_vectorize_estimator_bounds(spark):
    """Per bucket: |signed_tf| <= tf (each token contributes +-1), and
    the tf mass over buckets equals the corpus whitespace-token count —
    the hashing trick loses no tokens, it only folds the vocab."""
    from pyspark.sql import functions as F

    from databricks_feature_store_poc_spark.llm.text import (
        HASH_BUCKETS,
        feature_hash_vectorize,
    )
    from databricks_feature_store_poc_spark.registry import QUERIES

    df = feature_hash_vectorize(spark, SF_TEST)
    bad = df.filter(
        (F.abs(F.col("signed_tf")) > F.col("tf"))
        | (F.col("bucket") < 0)
        | (F.col("bucket") >= HASH_BUCKETS)
        | (F.col("tf") <= 0)
    ).count()
    assert bad == 0
    total_tf = df.agg(F.sum("tf")).collect()[0][0]
    ws_total = (
        QUERIES["text_token_count"](spark, SF_TEST)
        .agg(F.sum("ws_tokens"))
        .collect()[0][0]
    )
    assert total_tf == ws_total


def test_surprisal_separates_rare_from_boilerplate(spark, tmp_path):
    """The filter's reason to exist: a doc of corpus-common tokens must
    score LOWER mean_bits than a doc of corpus-unique tokens."""
    from databricks_feature_store_poc_spark.llm.text import (
        text_surprisal_proxy,
    )

    rows = [(1, "the the the the the the the the")]  # boilerplate
    rows += [(2, "zyzzyva quixotic ephemeral obsidian")]  # all unique
    rows += [(i, "the common words here") for i in range(10, 30)]
    sf = _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in text_surprisal_proxy(spark, sf).collect()}
    assert out[1]["mean_bits"] < out[2]["mean_bits"]
    # integer-exactness: doc 2's tokens are corpus-unique (cnt=1), so
    # each scores floor(log2(N)) bits where N = 8 + 4 + 20*4 = 92
    n_corpus = 8 + 4 + 20 * 4
    expect_bits = n_corpus.bit_length() - 1  # floor(log2(92)) = 6
    assert out[2]["n_tokens"] == 4
    assert out[2]["surprisal_bits"] == 4 * expect_bits
    assert out[2]["mean_bits"] == float(expect_bits)


# --- mm_decode_wav: third real codec (RIFF chunk walk, signed PCM) ---------


def _wav_expected(text):
    """Independent recompute of the mm_decode_wav contract (mirrors the
    DuckDB oracle: samples from byte pairs with zero-padded odd tail,
    two's-complement fold, file size from the chunk-layout formula)."""
    if text is None:
        return (None, None, None, None, None, None)
    tb = text.encode("utf-8")
    n = len(tb)
    ns = (n + 1) // 2
    sv = []
    for i in range(ns):
        lo = tb[2 * i]
        hi = tb[2 * i + 1] if 2 * i + 1 < n else 0
        u = lo + 256 * hi
        sv.append(u - 65536 if u >= 32768 else u)
    jl = 3 + n % 6
    return (
        8000 + (n % 5) * 2000,
        ns,
        52 + jl + jl % 2 + n + n % 2,
        True,
        sum(sv),
        max((abs(x) for x in sv), default=None),
    )


WAV_CASES = [
    (1, ""),            # 0 samples: sum 0, peak NULL
    (2, "a"),           # odd byte count: zero-padded high byte
    (3, "héllo wörld"), # multi-byte UTF-8: é = 0xC3 0xA9 -> high bit set
    (4, "ÿÿ"),  # 0xC3BF C3BF: samples with bit 15 set -> negative
    (5, None),          # NULL text -> NULL metrics
    (6, "abc"),         # n%6==3 -> LIST len 6 (even); n odd -> data pad
    (7, "abcd"),        # n%6==4 -> LIST len 7 (ODD) -> RIFF pad byte
    (8, "x" * 37),      # longer doc, odd n, odd LIST combos
]


def test_wav_round_trip_matches_independent_contract(spark, tmp_path):
    from databricks_feature_store_poc_spark.llm.multimodal import (
        mm_decode_wav,
    )

    sf = _write_documents(spark, tmp_path, WAV_CASES)
    out = {r["doc_id"]: r for r in mm_decode_wav(spark, sf).collect()}
    assert len(out) == len(WAV_CASES)
    for doc_id, text in WAV_CASES:
        exp = _wav_expected(text)
        r = out[doc_id]
        got = (
            r["sample_rate"], r["n_samples"], r["n_file_bytes"],
            r["header_consistent"], r["sample_sum"], r["peak_abs"],
        )
        assert got == exp, f"doc {doc_id!r} text {text!r}: {got} != {exp}"


def test_wav_signed_decode_goes_negative(spark, tmp_path):
    """Defect class (3): a sample whose high byte has bit 7 set MUST
    decode negative — an unsigned reader reports sum inflated by 65536
    per such sample. '\\xff\\xff' utf-8 encodes to C3 BF C3 BF: both
    samples are 0xBFC3 -> -16445 each."""
    from databricks_feature_store_poc_spark.llm.multimodal import (
        mm_decode_wav,
    )

    sf = _write_documents(spark, tmp_path, [(1, "ÿÿ")])
    r = mm_decode_wav(spark, sf).collect()[0]
    assert r["n_samples"] == 2
    assert r["sample_sum"] == -16445 * 2 < 0
    assert r["peak_abs"] == 16445


def test_wav_naive_fixed_offset_reader_is_wrong():
    """Defect classes (1)+(2): the encoder interposes a LIST chunk, so a
    reader that assumes the canonical fixed 44-byte layout reads LIST
    bytes as audio; and when LIST length is odd, a walker that skips
    without the RIFF pad byte lands mid-stream. Prove the file actually
    embodies both traps (the decoder's own outputs are contract-checked
    elsewhere)."""
    import struct

    text = "abcd"  # n=4 -> LIST len 7 (odd) -> pad byte present
    tb = text.encode()
    n = len(tb)
    rate = 8000 + (n % 5) * 2000
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    jl = 3 + n % 6
    assert jl % 2 == 1  # the odd-LIST trap is armed for this case
    junk = b"\xa5" * jl + b"\x00"
    data = tb
    riff_size = 4 + 8 + len(fmt) + 8 + len(junk) + 8 + len(data)
    payload = (
        b"RIFF" + struct.pack("<I", riff_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", jl) + junk
        + b"data" + struct.pack("<I", len(data)) + data
    )
    # naive fixed-offset reader: expects 'data' at byte 36
    assert payload[36:40] != b"data"
    # walker WITHOUT the pad byte: lands one byte early, sees garbage id
    off = 12 + 8 + len(fmt)  # at LIST header
    no_pad = off + 8 + jl
    assert payload[no_pad:no_pad + 4] != b"data"
    with_pad = off + 8 + jl + jl % 2
    assert payload[with_pad:with_pad + 4] == b"data"


# --- text_zipf_fit / text_bigram_pmi: corpus-statistics additions ----------


def test_zipf_fit_matches_bruteforce_per_rank(spark, tmp_path):
    """The closed-form bit-block interval sums must equal the naive
    per-rank computation (rank every word by count desc, x=floor(log2
    rank), y=floor(log2 cnt), OLS slope) — including tie intervals that
    straddle a power-of-two boundary (counts chosen so the cnt=1 tie
    block spans ranks 3..9 across the 4/8 boundaries)."""
    import math

    from databricks_feature_store_poc_spark.llm.text import text_zipf_fit

    # corpus: 'a' x8, 'b' x3, then 7 singletons -> ranks 1..9
    text = " ".join(["a"] * 8 + ["b"] * 3 + list("cdefghi"))
    sf = _write_documents(spark, tmp_path, [(1, text)])
    r = text_zipf_fit(spark, sf).collect()[0]

    counts = sorted([8, 3, 1, 1, 1, 1, 1, 1, 1], reverse=True)
    xs = [int(math.log2(rank)) for rank in range(1, len(counts) + 1)]
    ys = [c.bit_length() - 1 for c in counts]
    k = len(counts)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sx2 = sum(x * x for x in xs)
    assert (r["n_types"], r["n_tokens"]) == (9, 18)
    assert (r["sum_x"], r["sum_y"], r["sum_xy"], r["sum_x2"]) == (
        sx, sy, sxy, sx2,
    )
    assert r["slope_num"] == k * sxy - sx * sy
    assert r["slope_den"] == k * sx2 - sx * sx
    assert r["zipf_slope"] == (k * sxy - sx * sy) / (k * sx2 - sx * sx)
    assert r["zipf_slope"] < 0  # frequency falls with rank


def test_zipf_fit_degenerate_single_type_yields_null_slope(spark, tmp_path):
    from databricks_feature_store_poc_spark.llm.text import text_zipf_fit

    sf = _write_documents(spark, tmp_path, [(1, "same same same")])
    r = text_zipf_fit(spark, sf).collect()[0]
    assert r["n_types"] == 1 and r["slope_den"] == 0
    assert r["zipf_slope"] is None


def test_bigram_pmi_bruteforce_and_support_cut(spark, tmp_path):
    """PMI ratio = c_xy*N/(c_x*c_y) with POSITIONAL margins; pairs below
    the c_xy>=5 support cut must not appear even with a sky-high
    ratio."""
    from databricks_feature_store_poc_spark.llm.text import text_bigram_pmi

    # 'x y' always together (5 times, meets support), 'q z' once (rare,
    # perfect association, BELOW support), 'a' scattered as noise.
    docs = [
        (1, "x y a x y"),
        (2, "x y a a q z"),
        (3, "x y a x y a"),
    ]
    sf = _write_documents(spark, tmp_path, docs)
    rows = text_bigram_pmi(spark, sf).collect()
    got = {(r["w1"], r["w2"]): r for r in rows}
    assert ("q", "z") not in got  # support cut
    assert ("x", "y") in got
    # brute-force margins over ALL adjacent pairs
    pairs = []
    for _, t in docs:
        ws = t.split()
        pairs += list(zip(ws, ws[1:]))
    n = len(pairs)
    c_xy = pairs.count(("x", "y"))
    c_x = sum(1 for p in pairs if p[0] == "x")
    c_y = sum(1 for p in pairs if p[1] == "y")
    r = got[("x", "y")]
    assert (r["c_xy"], r["c_x"], r["c_y"], r["n_bigrams"]) == (
        c_xy, c_x, c_y, n,
    )
    assert r["pmi_ratio"] == (c_xy * n) / (c_x * c_y)


@pytest.mark.parametrize("name", ["text_zipf_fit", "text_bigram_pmi"])
def test_oracle_match_r14_corpus_stats(name, spark):
    r = compare(name, spark, SF_TEST, verbose=False)
    assert r["ok"], f"{name}: {r.get('issues')}"


# --- embed_pca_power: integer power iteration on the exact gram ------------


def _write_embeddings(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    return str(tmp_path)


def _pca_power_bruteforce(vectors):
    """Independent integer recompute of the embed_pca_power contract:
    quantize to the 2^20 grid, exact gram, shift G to 24 bits, three
    renormalize-to-20-bits power iterations from ones."""
    import numpy as np

    GRID = 1 << 20
    Q = np.array(
        [[int(np.floor(float(x) * GRID + 0.5)) for x in v] for v in vectors],
        dtype=object,  # python ints: no overflow anywhere
    )
    d = Q.shape[1]
    G = [[sum(int(Q[r][i]) * int(Q[r][j]) for r in range(len(Q)))
          for j in range(d)] for i in range(d)]
    mg = max(abs(G[i][j]) for i in range(d) for j in range(d))
    gsh = max(0, mg.bit_length() - 24)
    # x >> s == floor(x / 2^s) for python ints of either sign
    Gp = [[G[i][j] >> gsh for j in range(d)] for i in range(d)]
    v = [1] * d
    for _ in range(3):
        w = [sum(Gp[i][j] * v[j] for j in range(d)) for i in range(d)]
        mw = max(abs(x) for x in w) if any(w) else 0
        s = max(0, mw.bit_length() - 20)
        v = [x >> s for x in w]
    return v


def test_pca_power_matches_integer_bruteforce(spark, tmp_path):
    from databricks_feature_store_poc_spark.llm.vectors import (
        embed_pca_power,
    )

    rows = [
        (i, [((i * 31 + d * 7) % 13 - 6) / 6.0 for d in range(64)], i % 2)
        for i in range(20)
    ] + [(99, None, 0)]  # NULL embedding contributes nothing
    sf = _write_embeddings(spark, tmp_path, rows)
    got = {
        r["dim"]: r["component"]
        for r in embed_pca_power(spark, sf).collect()
    }
    exp = _pca_power_bruteforce([v for _, v, _ in rows if v is not None])
    assert len(got) == 64
    assert [got[j + 1] for j in range(64)] == exp


def test_pca_power_finds_the_dominant_direction(spark, tmp_path):
    """On a corpus concentrated along one axis plus small noise, the
    third power iterate must align with numpy's top eigenvector of the
    float gram (|cos| > 0.99) — i.e. the integer pipeline is a real
    eigensolver, not just a deterministic hash."""
    import numpy as np

    from databricks_feature_store_poc_spark.llm.vectors import (
        embed_pca_power,
    )

    rng = np.random.RandomState(7)
    axis = np.zeros(64); axis[5] = 1.0
    X = np.outer(rng.randn(200) * 2.0, axis) + rng.randn(200, 64) * 0.05
    rows = [(i, [float(x) for x in X[i]], 0) for i in range(200)]
    sf = _write_embeddings(spark, tmp_path, rows)
    got = {
        r["dim"]: r["component"]
        for r in embed_pca_power(spark, sf).collect()
    }
    v = np.array([got[j + 1] for j in range(64)], dtype=float)
    G = X.T @ X
    evals, evecs = np.linalg.eigh(G)
    top = evecs[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.99, cos
    assert abs(v).argmax() == 5


@pytest.mark.parametrize("name", ["embed_pca_power"])
def test_oracle_match_r14_pca(name, spark):
    r = compare(name, spark, SF_TEST, verbose=False)
    assert r["ok"], f"{name}: {r.get('issues')}"


def test_bigram_pmi_survives_zero_word_documents(spark, tmp_path):
    """Adversarial-replica catch: a whitespace-only document made the
    adjacent-pair slice length -1, which slice() rejects at runtime.
    Empty/one-word docs must contribute zero pairs, not crash."""
    from databricks_feature_store_poc_spark.llm.text import text_bigram_pmi

    docs = [(1, "   "), (2, ""), (3, "lonely"), (4, None)] + [
        (10 + i, "x y") for i in range(5)
    ]
    sf = _write_documents(spark, tmp_path, docs)
    rows = text_bigram_pmi(spark, sf).collect()
    assert [(r["w1"], r["w2"], r["c_xy"]) for r in rows] == [("x", "y", 5)]


# --- analyze_table_stats: CBO-style column profile (r14) --------------------


def test_analyze_table_stats_bruteforce(spark, tmp_path):
    from databricks_feature_store_poc_spark.featurestore.quality import (
        analyze_table_stats,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table
    from tests.conftest import SF_TEST

    rows = {r["col"]: r for r in analyze_table_stats(spark, SF_TEST).collect()}
    o = load_table(spark, SF_TEST, "orders")
    n = o.count()
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    }
    for c, r in rows.items():
        assert r["n_rows"] == n
        assert r["n_nonnull"] == o.where(f"{c} IS NOT NULL").count()
        assert r["n_distinct"] == o.select(c).distinct().where(
            f"{c} IS NOT NULL"
        ).count()
    # a PK must profile as unique
    pk = rows["o_orderkey"]
    assert pk["n_distinct"] == pk["n_nonnull"]


@pytest.mark.parametrize("name", ["analyze_table_stats"])
def test_oracle_match_r14_analyze(name, spark):
    r = compare(name, spark, SF_TEST, verbose=False)
    assert r["ok"], f"{name}: {r.get('issues')}"


# --- join_asof_nearest: merge_asof(direction='nearest') semantics -----------


def test_asof_nearest_tie_and_direction_rules(spark, tmp_path):
    from datetime import datetime as DT

    from databricks_feature_store_poc_spark.operators.relational import (
        join_asof_nearest,
    )

    T0 = DT(2024, 1, 1, 12, 0, 0)

    def at(sec):
        return DT(2024, 1, 1, 12, 0, sec)

    rows = [
        # user 1: backward view 10s before, forward view 10s after ->
        # exact tie -> backward wins
        (101, at(0), 1, "view"),
        (102, at(10), 1, "purchase"),
        (103, at(20), 1, "view"),
        # user 2: forward strictly closer (3s after vs 8s before)
        (201, at(2), 2, "view"),
        (202, at(10), 2, "purchase"),
        (203, at(13), 2, "view"),
        # user 3: a view at the SAME ts -> backward-inclusive, gap 0
        (301, at(30), 3, "view"),
        (302, at(30), 3, "purchase"),
        # user 4: no views at all -> NULLs kept (left-join convention)
        (401, at(40), 4, "purchase"),
        # NULL event-time purchase: excluded by the r14 contract
        (501, None, 5, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r["event_id"]: r
        for r in join_asof_nearest(spark, str(tmp_path)).collect()
    }
    assert set(out) == {102, 202, 302, 401}  # purchases with non-NULL ts
    assert (out[102]["direction"], out[102]["gap_us"]) == ("backward", 10_000_000)
    assert out[102]["nearest_view_ts"] == at(0)
    assert (out[202]["direction"], out[202]["gap_us"]) == ("forward", 3_000_000)
    assert out[202]["nearest_view_ts"] == at(13)
    assert (out[302]["direction"], out[302]["gap_us"]) == ("backward", 0)
    assert out[302]["nearest_view_ts"] == at(30)
    assert (
        out[401]["nearest_view_ts"], out[401]["direction"], out[401]["gap_us"]
    ) == (None, None, None)


@pytest.mark.parametrize("name", ["join_asof_nearest"])
def test_oracle_match_r14_asof(name, spark):
    r = compare(name, spark, SF_TEST, verbose=False)
    assert r["ok"], f"{name}: {r.get('issues')}"


# --- graph_bfs_reach: multi-source BFS frontier semantics -------------------


def test_bfs_reach_hand_built_graph(spark, tmp_path):
    """12 customers, 11 suppliers: C1..C10 (2 orders each) are the
    top-10 sources; C11 (1 order) hangs off S1 and also touches S50;
    C12 (1 order) touches only S50. Expected expansion:
    hop1 = {S1..S10} (10), hop2 = {C11} (1), hop3 = {S50} (1);
    C12 sits at distance 4 and stays UNVISITED — the anti-join must
    not leak it in."""
    from databricks_feature_store_poc_spark.operators.graph import (
        graph_bfs_reach,
    )

    orders, lineitem = [], []
    ok = 0
    for c in range(1, 11):          # C1..C10: two orders -> supplier Sc
        for _ in range(2):
            ok += 1
            orders.append((ok, c))
            lineitem.append((ok, c))  # supplier id == customer id
    ok += 1
    orders.append((ok, 11))          # C11: one order -> S1 and S50
    lineitem += [(ok, 1), (ok, 50)]
    ok += 1
    orders.append((ok, 12))          # C12: one order -> S50 only
    lineitem.append((ok, 50))

    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame(
        lineitem, "l_orderkey long, l_suppkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    rows = {
        r["hop"]: r for r in graph_bfs_reach(spark, str(tmp_path)).collect()
    }
    assert (rows[1]["n_frontier"], rows[1]["n_visited"]) == (10, 20)
    assert (rows[2]["n_frontier"], rows[2]["n_visited"]) == (1, 21)
    assert (rows[3]["n_frontier"], rows[3]["n_visited"]) == (1, 22)
    # 23 nodes total: C12 (distance 4) must remain unreached
    assert rows[3]["n_visited"] == 22 < 23


@pytest.mark.parametrize("name", ["graph_bfs_reach"])
def test_oracle_match_r14_bfs(name, spark):
    r = compare(name, spark, SF_TEST, verbose=False)
    assert r["ok"], f"{name}: {r.get('issues')}"
