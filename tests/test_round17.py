"""Round-17 additions: image near-dup dedup via dHash (VERDICT r16 #3),
staging-GC concurrency hardening (ADVICE r16 #1), BPE merge-table
persistence (VERDICT r16 #2).
"""

from __future__ import annotations

import os
import shutil
import struct
import time

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE, SF_TEST


# --- dHash kernel: foreign payloads (independent recompute) -----------------


def _ref_dhash(pixels: np.ndarray) -> tuple[int, int]:
    """Independent dHash reference: floor-of-mean area downsample of the
    (h, w) luminance-sum matrix (3x gray) to 9x8, then left<right bits."""
    h, w = pixels.shape
    g = np.empty((8, 9), dtype=np.int64)
    for i in range(8):
        r0, r1 = (i * h) // 8, ((i + 1) * h) // 8
        for j in range(9):
            c0, c1 = (j * w) // 9, ((j + 1) * w) // 9
            blk = pixels[r0:r1, c0:c1]
            g[i, j] = int(blk.sum()) // blk.size
    bits = (g[:, :8] < g[:, 1:]).astype(np.int64).ravel()
    lo = int((bits[:32] << np.arange(32, dtype=np.int64)).sum())
    hi = int((bits[32:] << np.arange(32, dtype=np.int64)).sum())
    return lo, hi


def _gray_bmp(pixels: np.ndarray) -> bytes:
    """Real 24bpp bottom-up BMP from an (h, w) uint8 gray matrix."""
    h, w = pixels.shape
    stride = (w * 3 + 3) // 4 * 4
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = np.repeat(pixels[:, :, None], 3, axis=2).reshape(
        h, w * 3
    )
    img_size = stride * h
    hdr = b"BM" + struct.pack("<IHHI", 54 + img_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    return hdr + dib + body[::-1].tobytes()


def test_dhash_kernel_foreign_payloads_roundtrip():
    """The decoder must reproduce the reference dHash on ARBITRARY
    non-constant images with awkward dims (stride padding, non-divisible
    downsample boundaries) — the foreign-payload convention of the codec
    family."""
    from databricks_feature_store_poc_spark.llm.multimodal import (
        _make_dhash_decoder,
    )

    rng = np.random.default_rng(17)
    cases = []
    for w, h in [(9, 8), (10, 9), (37, 23), (72, 64), (100, 50)]:
        cases.append(rng.integers(0, 256, size=(h, w), dtype=np.uint8))
    payloads = [_gray_bmp(px) for px in cases] + [None, b"notabmp"]
    pdf = pd.DataFrame(
        {"doc_id": list(range(len(payloads))), "payload": payloads}
    )
    out = pd.concat(list(_make_dhash_decoder()(iter([pdf]))))
    for i, px in enumerate(cases):
        exp_lo, exp_hi = _ref_dhash(px.astype(np.int64))
        row = out[out["doc_id"] == i].iloc[0]
        assert (row["h_lo"], row["h_hi"]) == (exp_lo, exp_hi), (i, px.shape)
        assert (row["width"], row["height"]) == px.shape[::-1]
    for i in (len(cases), len(cases) + 1):  # NULL + non-BMP rows
        row = out[out["doc_id"] == i].iloc[0]
        assert pd.isna(row["h_lo"]) and pd.isna(row["width"])


def test_dhash_clusters_one_row_per_doc_and_clones_merge(spark, tmp_path):
    """Exact clones share the dHash; the cluster output is one row per
    input row with clones labeled by the minimum doc_id."""
    from databricks_feature_store_poc_spark.llm.multimodal import (
        dedup_image_dhash,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "a", 44),
        (2, "the quick brown fox jumps over the lazy dog", "en", "a", 44),
        (3, "a completely different document about spark engines", "en", "a", 52),
        (4, None, None, "a", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r["doc_id"]: r for r in dedup_image_dhash(spark, str(tmp_path)).collect()}
    assert len(got) == 4
    assert got[1]["cluster_rep"] == 1 and got[2]["cluster_rep"] == 1
    assert got[1]["cluster_size"] == 2 and got[2]["is_rep"] is False
    assert got[4]["cluster_rep"] == 4 and got[4]["cluster_size"] == 1


def test_dhash_near_duplicate_lands_in_one_cluster(spark, tmp_path):
    """A near-duplicate (small byte perturbation late in the text, same
    length so S and most tiles are unchanged) must share >= 1 of the 4
    LSH bands with its original and co-cluster."""
    from databricks_feature_store_poc_spark.llm.multimodal import (
        dedup_image_dhash,
        image_dhash_fingerprints,
    )

    base = "abcdefghij" * 12  # 120 bytes — tiles sample bytes 0..71
    # same length (so S and every other tile match); byte 40 'a'->'z'
    # flips exactly the two comparison bits that touch grid cell (4,4)
    near = base[:40] + "z" + base[41:]
    rows = [(1, base, "en", "a", len(base)), (2, near, "en", "a", len(near))]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    fps = {r["doc_id"]: r for r in image_dhash_fingerprints(spark, str(tmp_path)).collect()}
    hamming = bin(
        (fps[1]["h_lo"] ^ fps[2]["h_lo"]) | ((fps[1]["h_hi"] ^ fps[2]["h_hi"]) << 32)
    ).count("1")
    assert 0 < hamming <= 3  # a genuine near-dup, not an exact clone
    got = {r["doc_id"]: r for r in dedup_image_dhash(spark, str(tmp_path)).collect()}
    assert got[2]["cluster_rep"] == 1 and got[1]["cluster_size"] == 2


# --- staging GC: concurrent-run safety (ADVICE r16 #1) ----------------------


def test_stage_gc_spares_inflight_tmp_and_reaps_stale(spark):
    """Re-staging must never delete another process's fresh .tmp dir and
    must reap 2h-old stale-fingerprint siblings (grace-window GC)."""
    import glob
    import tempfile

    from databricks_feature_store_poc_spark.streaming.windows import (
        run_stream_dedup,
    )

    run_stream_dedup(spark, SF_SMOKE).count()
    cands = [
        c
        for c in glob.glob(
            os.path.join(tempfile.gettempdir(), "spark_graft_stream_sf0.001_dup_*")
        )
        if ".tmp." not in c
    ]
    assert cands, "staging dir missing after run"
    staged = cands[0]
    prefix = staged.split("_dup_")[0]
    fresh_tmp = prefix + "_dup_deadbeef.tmp.999999"
    stale_fp = prefix + "_dup_00000000staleXX"
    os.makedirs(fresh_tmp, exist_ok=True)
    os.makedirs(stale_fp, exist_ok=True)
    old = time.time() - 7200
    os.utime(stale_fp, (old, old))
    shutil.rmtree(staged)  # force the staging (and GC) branch to re-run
    try:
        run_stream_dedup(spark, SF_SMOKE).count()
        assert os.path.exists(fresh_tmp), "in-flight tmp dir was GC'd"
        assert not os.path.exists(stale_fp), "stale dir survived past grace"
    finally:
        shutil.rmtree(fresh_tmp, ignore_errors=True)
        shutil.rmtree(stale_fp, ignore_errors=True)


# --- BPE merge-table persistence through the FeatureStore (VERDICT r16 #2) --


def test_bpe_merge_table_persists_and_rotates(spark, tmp_path):
    """First call trains + create_table()s; the second is a pure
    read_table (S8). A different corpus fingerprint rotates the table
    and drops the stale one."""
    from databricks_feature_store_poc_spark.llm.text import bpe_merge_table

    def corpus(sub: str, texts: list[str]) -> str:
        p = tmp_path / sub
        rows = [(i, t, "en", "a", len(t)) for i, t in enumerate(texts)]
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            str(p / "documents.parquet")
        )
        return str(p)

    c1 = corpus("c1", ["low lower lowest", "low low newer newest"] * 3)
    m1 = bpe_merge_table(spark, c1).orderBy("merge_rank").collect()
    assert 1 <= len(m1) <= 6 and m1[0]["merge_rank"] == 1
    tables = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("bpe_merges_")
    ]
    assert len(tables) == 1
    # second call must NOT retrain: drop the learn input, read must work
    m1b = bpe_merge_table(spark, c1).orderBy("merge_rank").collect()
    assert [tuple(r) for r in m1b] == [tuple(r) for r in m1]

    c2 = corpus("c2", ["aaa aab aba abb baa"] * 4)
    bpe_merge_table(spark, c2)
    tables2 = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("bpe_merges_")
    ]
    assert len(tables2) == 1 and tables2 != tables  # rotated, stale dropped


# --- mm_decode_jpeg_progressive: foreign dense-AC payloads ------------------


def _ref_pjpeg(coeff_blocks, bw, bh, qtable, dri=0):
    """Test-local GENERAL progressive encoder (successive approximation
    Al=1 -> 0 over arbitrary coefficients): DC first (floor point
    transform), AC first 1-63 at Al=1 (sign-magnitude point transform,
    run/size symbols, ZRL, per-block EOB), AC refine at Al=0 (the
    G.1.2.3 correction-bit algorithm: ZRL flush BEFORE buffering the
    triggering correction — the libjpeg ordering), DC refine (raw
    bits). Independent of the engine encoder: the engine corpus is
    DC-only; this exercises every dense path."""
    import struct

    from databricks_feature_store_poc_spark.llm.multimodal import (
        JPEG_AC_BITS,
        JPEG_AC_VALS,
        JPEG_DC_BITS,
        JPEG_DC_VALS,
        jpeg_canonical_codes,
    )

    dc_codes = jpeg_canonical_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_codes = jpeg_canonical_codes(JPEG_AC_BITS, JPEG_AC_VALS)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qtable)
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    out += (
        b"\xff\xc2" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 8 * bh, 8 * bw) + b"\x01" + bytes([1, 0x11, 0])
    )
    out += (
        b"\xff\xc4" + struct.pack(">H", 19 + len(JPEG_DC_VALS))
        + b"\x00" + bytes(JPEG_DC_BITS) + bytes(JPEG_DC_VALS)
    )
    out += (
        b"\xff\xc4" + struct.pack(">H", 19 + len(JPEG_AC_VALS))
        + b"\x10" + bytes(JPEG_AC_BITS) + bytes(JPEG_AC_VALS)
    )

    def scan(fn):
        entropy = bytearray()
        state = {"acc": 0, "n": 0, "rst": 0}

        def put(v, nb):
            state["acc"] = (state["acc"] << nb) | (v & ((1 << nb) - 1))
            state["n"] += nb
            while state["n"] >= 8:
                byte = (state["acc"] >> (state["n"] - 8)) & 0xFF
                entropy.append(byte)
                if byte == 0xFF:
                    entropy.append(0)
                state["n"] -= 8
                state["acc"] &= (1 << state["n"]) - 1

        def rst():
            # pad to byte boundary with 1s, then a raw RSTn marker
            if state["n"]:
                put((1 << (8 - state["n"])) - 1, 8 - state["n"])
            entropy.append(0xFF)
            entropy.append(0xD0 + (state["rst"] & 7))
            state["rst"] += 1

        fn(put, rst)
        if state["n"]:
            put((1 << (8 - state["n"])) - 1, 8 - state["n"])
        return bytes(entropy)

    def sos(td_ta, ss, se, ah, al):
        return (
            b"\xff\xda" + struct.pack(">H", 8) + b"\x01"
            + bytes([1, td_ta]) + bytes([ss, se, (ah << 4) | al])
        )

    def put_huff(put, codes, sym):
        c, ln = codes[sym]
        put(c, ln)

    def dc_first(put, rst):
        pred = 0
        for bi, zz in enumerate(coeff_blocks):
            if dri and bi and bi % dri == 0:
                rst()
                pred = 0
            v = zz[0] >> 1  # DC: floor point transform
            diff = v - pred
            pred = v
            cat = abs(diff).bit_length()
            put_huff(put, dc_codes, cat)
            if cat:
                put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)

    def ac_first(put, rst):  # Al = 1, sign-magnitude point transform
        for bi, zz in enumerate(coeff_blocks):
            if dri and bi and bi % dri == 0:
                rst()
            t = [
                (abs(zz[k]) >> 1) * (1 if zz[k] >= 0 else -1)
                for k in range(64)
            ]
            r = 0
            last = max((k for k in range(1, 64) if t[k]), default=0)
            for k in range(1, last + 1):
                if t[k] == 0:
                    r += 1
                    continue
                while r > 15:
                    put_huff(put, ac_codes, 0xF0)
                    r -= 16
                s = abs(t[k]).bit_length()
                put_huff(put, ac_codes, (r << 4) | s)
                v = t[k]
                put(v if v >= 0 else v + (1 << s) - 1, s)
                r = 0
            if last < 63:
                put_huff(put, ac_codes, 0x00)  # EOB

    def ac_refine(put, rst):  # Ah=1, Al=0
        for bi, zz in enumerate(coeff_blocks):
            if dri and bi and bi % dri == 0:
                rst()
            absv = [abs(zz[k]) for k in range(64)]
            newly = [k for k in range(1, 64) if absv[k] == 1]
            eob = max(newly, default=0)
            r = 0
            br: list[int] = []
            for k in range(1, 64):
                t = absv[k]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob:
                    put_huff(put, ac_codes, 0xF0)
                    for b in br:
                        put(b, 1)
                    br = []
                    r -= 16
                if t > 1:
                    br.append(t & 1)
                    continue
                put_huff(put, ac_codes, (r << 4) | 1)
                put(1 if zz[k] > 0 else 0, 1)
                for b in br:
                    put(b, 1)
                br = []
                r = 0
            if r > 0 or br:
                put_huff(put, ac_codes, 0x00)
                for b in br:
                    put(b, 1)

    def dc_refine(put, rst):
        for bi, zz in enumerate(coeff_blocks):
            if dri and bi and bi % dri == 0:
                rst()
            put(zz[0] & 1, 1)

    out += sos(0x00, 0, 0, 0, 1) + scan(dc_first)
    out += sos(0x00, 1, 63, 0, 1) + scan(ac_first)
    out += sos(0x00, 1, 63, 1, 0) + scan(ac_refine)
    out += sos(0x00, 0, 0, 1, 0) + scan(dc_refine)
    out += b"\xff\xd9"
    return bytes(out)


def _decode_pjpeg_foreign(payload):
    from databricks_feature_store_poc_spark.llm.multimodal import (
        _make_jpeg_decoder,
    )

    pdf = pd.DataFrame({"doc_id": [0], "payload": [payload]})
    out = next(_make_jpeg_decoder("progressive")(iter([pdf])))
    r = out.iloc[0]

    def v(x):
        return None if pd.isna(x) else (bool(x) if isinstance(x, (bool,)) else int(x))

    return (
        v(r["width"]), v(r["height"]), v(r["n_blocks"]), v(r["n_scans"]),
        None if pd.isna(r["header_consistent"]) else bool(r["header_consistent"]),
        v(r["pixel_checksum_weighted"]),
    )


def test_progressive_jpeg_dense_ac_roundtrip():
    """Arbitrary coefficients through the 4-scan successive-approximation
    script: first-pass runs + ZRL at Al=1, refinement correction bits,
    NEWLY-nonzero +-1 coefficients arriving in the refine scan, per-block
    EOBs — decoded pixels must equal the independent numpy IDCT of the
    full-precision coefficients (successive approximation reconstructs
    every v exactly: deposit sign*(|v|>>1)<<1, then one move-away-from-
    zero bit)."""
    import random

    from tests.test_round16 import _jpeg_reference_pixels

    rng = random.Random(1717)
    bw, bh = 3, 2
    qtable = [8] + [2 * (1 + (i % 7)) for i in range(63)]
    blocks = []
    for b in range(bw * bh):
        zz = [0] * 64
        zz[0] = rng.randint(-80, 80)
        for _ in range(10):
            zz[rng.randint(1, 63)] = rng.randint(-30, 30)
        zz[17] = 1   # newly nonzero in the refine scan
        zz[41] = -1  # with a ZRL-spanning gap before it
        for k in range(20, 40):
            zz[k] = 0
        zz[45] = 5
        zz[63] = 1 if b % 2 else 0  # band-final newly nonzero
        blocks.append(zz)
    payload = _ref_pjpeg(blocks, bw, bh, qtable)
    img = _jpeg_reference_pixels(blocks, bw, bh, qtable)
    want = int(
        sum((i + 1) * int(p) for i, p in enumerate(img.reshape(-1))) % 65536
    )
    got = _decode_pjpeg_foreign(payload)
    assert got == (8 * bw, 8 * bh, bw * bh, 4, True, want), got


def test_progressive_jpeg_corruption_and_contract():
    blocks = [[10] + [0] * 63, [-5] + [0] * 63]
    qtable = [8] + [16] * 63
    good = _ref_pjpeg(blocks, 2, 1, qtable)
    assert _decode_pjpeg_foreign(good)[4] is True
    got = _decode_pjpeg_foreign(good[:-6])  # truncated mid-entropy
    assert got[4] in (False, None)
    # baseline SOF0 is out of contract for the progressive reader
    base = bytearray(good)
    sof = base.index(b"\xff\xc2")
    base[sof + 1] = 0xC0
    assert _decode_pjpeg_foreign(bytes(base))[4] in (False, None)
    assert _decode_pjpeg_foreign(None)[4] is None


# --- sim_image_hamming_topk: deterministic cut --------------------------------


def test_image_hamming_topk_ties_and_self_exclusion(spark, tmp_path):
    """Hamming ties cut deterministically on neighbor_id; a query never
    returns itself; exact clones rank first at distance 0."""
    from databricks_feature_store_poc_spark.llm.multimodal import (
        sim_image_hamming_topk,
    )

    base = "abcdefghij" * 12
    rows = [
        (0, base, "en", "a", len(base)),
        (1, base, "en", "a", len(base)),          # clone of 0
        (2, base[:40] + "z" + base[41:], "en", "a", len(base)),  # near
        (3, "completely different text about engines", "en", "a", 39),
        (4, None, None, "a", 0),                   # no fingerprint
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = sim_image_hamming_topk(spark, str(tmp_path)).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["hamming"])
        )
    assert 4 not in per_q  # NULL text query has no fingerprint
    for q, nb in per_q.items():
        assert all(n != q for n, _ in nb)
        assert nb == sorted(nb, key=lambda t: (t[1], t[0]))
    assert per_q[0][0] == (1, 0)  # clone first at distance 0
    assert per_q[1][0] == (0, 0)
    assert per_q[0][1][0] == 2    # near-dup second


def test_progressive_jpeg_restart_markers():
    """DRI + RSTn through ALL progressive scan types: every scan must
    byte-align at restarts, reset the DC predictor and EOBRUN, and
    still reconstruct the exact coefficients."""
    import random

    from tests.test_round16 import _jpeg_reference_pixels

    rng = random.Random(4242)
    bw, bh = 4, 2  # 8 blocks, restart interval 3 -> uneven segments
    qtable = [8] + [2 * (1 + (i % 7)) for i in range(63)]
    blocks = []
    for b in range(bw * bh):
        zz = [0] * 64
        zz[0] = rng.randint(-80, 80)
        for _ in range(8):
            zz[rng.randint(1, 63)] = rng.randint(-20, 20)
        zz[9] = 1 if b % 3 == 0 else zz[9]  # some newly-nonzero refits
        blocks.append(zz)
    payload = _ref_pjpeg(blocks, bw, bh, qtable, dri=3)
    img = _jpeg_reference_pixels(blocks, bw, bh, qtable)
    want = int(
        sum((i + 1) * int(p) for i, p in enumerate(img.reshape(-1))) % 65536
    )
    got = _decode_pjpeg_foreign(payload)
    assert got == (8 * bw, 8 * bh, bw * bh, 4, True, want), got
