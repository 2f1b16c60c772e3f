"""Unit tests for the extension operators: exactness cross-checks that the
driver's rows-only queries can't express (LSH recall vs exact Jaccard,
SimHash on constructed near-dups, ANN vs numpy brute force, multimodal
stub gating)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from elephantdb_spark.functions.text import (
    fingerprint_rolling_col,
    lang_id_col,
    python_fingerprint,
    token_count_col,
)
from elephantdb_spark.operators.ann import (
    add_lsh_bucket,
    brute_force_topk,
    hyperplanes,
    lsh_bucket_topk,
)
from elephantdb_spark.operators.dedup import (
    exact_dedup,
    jaccard_shingle_pairs,
    minhash_lsh_pairs,
    simhash_fingerprints,
    simhash_neardup_pairs,
)
from elephantdb_spark.operators.multimodal import (
    attach_payload,
    decode_image,
    extract_features,
    sample_frames,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def neardup_corpus(spark, docs):
    base = docs.select("doc_id", "text")
    nd = base.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.expr("substring(text, 12)").alias("text"),
    )
    return base.unionByName(nd).cache()


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "x")], "id long, text string"
    )
    rows = {r.text: r for r in exact_dedup(df, ["text"], "id").collect()}
    assert rows["x"].keep_id == 1 and rows["x"].n_dups == 3
    assert rows["y"].keep_id == 3 and rows["y"].n_dups == 1


def test_fingerprint_matches_python(spark, docs):
    rows = docs.select("doc_id", "text", fingerprint_rolling_col(F.col("text")).alias("fp")).limit(20).collect()
    for r in rows:
        assert r.fp == python_fingerprint(r.text)


def test_token_count_edges(spark):
    df = spark.createDataFrame([("",), ("  ",), ("one",), ("a  b   c",)], "text string")
    counts = [r.n for r in df.select(token_count_col(F.col("text")).alias("n")).collect()]
    assert counts == [0, 0, 1, 3]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            ("the quick brown fox and the dog",),
            ("der hund und die katze ist da",),
            ("el perro y la casa es grande",),
            ("le chat et les oiseaux est la",),
            ("xyzzy plugh nothing here",),
        ],
        "text string",
    )
    preds = [r.p for r in df.select(lang_id_col(F.col("text")).alias("p")).collect()]
    assert preds == ["en", "de", "es", "fr", "und"]


def test_jaccard_finds_constructed_neardups(spark, neardup_corpus):
    pairs = jaccard_shingle_pairs(
        neardup_corpus, "doc_id", "text", shingle_len=3, threshold=0.5
    ).collect()
    found = {(r.a, r.b) for r in pairs}
    # every constructed (orig, orig+200000) pair must be found
    expected = {(i, i + 200000) for i in range(25)}
    assert expected <= found
    # the driver's corpus also contains NATURAL near-dups (~10% rate per
    # FIXTURES.md F7) — they must be ordered (a < b) and above threshold
    for r in pairs:
        assert r.a < r.b and r.jaccard >= 0.5


def test_minhash_lsh_recall_and_precision(spark, neardup_corpus):
    exact = {
        (r.a, r.b)
        for r in jaccard_shingle_pairs(
            neardup_corpus, "doc_id", "text", 3, 0.5
        ).collect()
    }
    lsh = {
        (r.a, r.b): r.jaccard
        for r in minhash_lsh_pairs(
            neardup_corpus, "doc_id", "text", num_perm=32, bands=8, shingle_len=3, threshold=0.5
        ).collect()
    }
    # verification step makes precision exact: every LSH pair is a true pair
    assert set(lsh) <= exact
    # banded LSH with 8 bands x 4 rows at j>=0.8 has ~100% collision prob;
    # constructed pairs have j ~ 0.85-0.95 → expect near-total recall
    assert len(set(lsh) & exact) >= int(0.9 * len(exact))


def test_simhash_neardups(spark, neardup_corpus):
    fps = simhash_fingerprints(neardup_corpus, "doc_id", "text", shingle_len=1)
    assert fps.columns == ["doc", "simhash"]
    pairs = simhash_neardup_pairs(
        neardup_corpus, "doc_id", "text", max_hamming=10, bands=4, shingle_len=1
    ).collect()
    found = {(r.a, r.b) for r in pairs}
    constructed = {(i, i + 200000) for i in range(25)}
    # banding guarantees recall only for hamming <= bands-1 (pigeonhole);
    # beyond that it's probabilistic — expect most but not all of the
    # constructed pairs (their hamming runs up to ~10)
    assert len(found & constructed) >= 15
    for r in pairs:
        assert r.hamming <= 10


def test_brute_force_topk_matches_numpy(spark, emb):
    rows = emb.orderBy("vec_id").collect()
    mat = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    q = mat[0]
    sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = [
        rows[i].vec_id
        for i in sorted(range(1, len(rows)), key=lambda i: (-sims[i], rows[i].vec_id))
    ][:10]
    got = [r.id for r in brute_force_topk(emb, [float(x) for x in q], 10, exclude_ids=[0]).collect()]
    assert got == order


def test_lsh_bucket_deterministic_and_subset(spark, emb):
    b1 = add_lsh_bucket(emb, n_bits=8).select("vec_id", "bucket").collect()
    b2 = add_lsh_bucket(emb, n_bits=8).select("vec_id", "bucket").collect()
    assert {(r.vec_id, r.bucket) for r in b1} == {(r.vec_id, r.bucket) for r in b2}
    for r in b1:
        assert 0 <= r.bucket < 256

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    approx = lsh_bucket_topk(emb, q, k=10, n_bits=8, max_hamming=8)
    exact = brute_force_topk(emb, q, k=10)
    # with max_hamming = n_bits the candidate set is everything → exact match
    assert [r.id for r in approx.collect()] == [r.id for r in exact.collect()]


def test_hyperplanes_deterministic():
    a = hyperplanes(64, 8, seed=42)
    b = hyperplanes(64, 8, seed=42)
    c = hyperplanes(64, 8, seed=7)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_lsh_bucket_fold_mode_matches_arrow(spark, emb):
    """q31's oracle-parity mode: the sequential-fold JVM bucket expression
    must assign the same buckets as the arrow matmul path (signs only
    differ if a dot product sits within one ulp of zero — not a real
    data shape), and the fold-mode topk must equal the arrow topk."""
    arrow = {
        (r.vec_id, r.bucket)
        for r in add_lsh_bucket(emb, n_bits=8).select("vec_id", "bucket").collect()
    }
    fold = {
        (r.vec_id, r.bucket)
        for r in add_lsh_bucket(emb, n_bits=8, bucket_mode="fold")
        .select("vec_id", "bucket")
        .collect()
    }
    assert arrow == fold
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    a = [r.id for r in lsh_bucket_topk(emb, q, k=10, n_bits=8, max_hamming=2).collect()]
    f = [
        r.id
        for r in lsh_bucket_topk(
            emb, q, k=10, n_bits=8, max_hamming=2, bucket_mode="fold"
        ).collect()
    ]
    assert a == f
    with pytest.raises(ValueError):
        add_lsh_bucket(emb, n_bits=8, bucket_mode="nope")


def test_multimodal_features_and_stubs(spark, docs):
    mm = attach_payload(docs.limit(10), "doc_id", "text", "lang", "source")
    assert [f.name for f in mm.schema.fields] == ["id", "payload", "meta"]
    feats = extract_features(mm).collect()
    assert len(feats) == 10
    by_id = {r.id: r for r in feats}
    sample = docs.limit(10).collect()
    for r in sample:
        f = by_id[r.doc_id]
        assert f.n_bytes == len(r.text.encode())
        assert f.media_type == "text/plain"
        assert len(f.sig) == 8
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        sample_frames(b"...")


def test_frame_sampling_explodes_rows(spark, docs):
    from elephantdb_spark.operators.multimodal import sample_frames_df

    mm = attach_payload(docs.limit(20), "doc_id", "text", "lang", "source")
    frames = sample_frames_df(mm, every_n=2)
    rows = frames.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    payload_lens = {r["id"]: len(bytes(r["payload"])) for r in mm.collect()}
    for _id, frs in by_id.items():
        n_frames = payload_lens[_id] // 64
        expected = len(range(0, n_frames, 2))
        assert len(frs) == expected
        assert sorted(f["frame_idx"] for f in frs) == list(range(0, n_frames, 2))
    # deterministic across runs
    again = {(r["id"], r["frame_idx"]): r["frame_sig"] for r in frames.collect()}
    assert all(again[(r["id"], r["frame_idx"])] == r["frame_sig"] for r in rows)


def test_resize_stage_shape_and_stub(spark, docs):
    import pytest as _pytest

    from elephantdb_spark.operators.multimodal import resize_images

    mm = attach_payload(docs.limit(5), "doc_id", "text", "lang", "source")
    out = resize_images(mm, width=64, height=32).collect()
    assert all(len(bytes(r["payload"])) == 64 * 32 // 64 for r in out)
    assert all(r["width"] == 64 and r["height"] == 32 for r in out)
    assert {r["media_type"] for r in out} == {"text/plain"}
    # text payloads are no image format: the strict path must raise the
    # unrecognized-format marker (BMP/PNG/JPEG now decode natively)
    with _pytest.raises(Exception, match="unrecognized image format"):
        resize_images(mm, use_real_decoder=True).collect()


def test_text_profile_matches_individual_metrics(spark, docs):
    from elephantdb_spark.functions.text import (
        avg_token_len_col,
        stopword_ratio_col,
        text_profile,
    )

    prof = {r["doc_id"]: r for r in text_profile(docs, "text").collect()}
    ind = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            token_count_col(F.col("text")).alias("nt"),
            stopword_ratio_col(F.col("text")).alias("sr"),
            avg_token_len_col(F.col("text")).alias("atl"),
            fingerprint_rolling_col(F.col("text")).alias("fp"),
        ).collect()
    }
    assert set(prof) == set(ind)
    for i, r in ind.items():
        p = prof[i]
        assert p["n_tokens"] == r["nt"]
        assert abs(p["stop_ratio"] - r["sr"]) < 1e-12
        assert abs(p["avg_tok_len"] - r["atl"]) < 1e-12
        assert p["fp"] == r["fp"]


def test_subword_tokens_bpe_ish(spark):
    from elephantdb_spark.functions.text import subword_count_col, subword_tokens_col

    rows = spark.createDataFrame(
        [("don't stop believin' 42x!",), ("",), ("  spaced   out  ",)],
        "text string",
    ).select(
        subword_tokens_col(F.col("text")).alias("toks"),
        subword_count_col(F.col("text")).alias("n"),
    ).collect()
    assert rows[0].toks == ["don", "'t", " stop", " believin", "'", " 42", "x", "!"]
    assert rows[0].n == 8
    assert rows[1].toks == [] and rows[1].n == 0
    assert rows[2].toks == [" spaced", " out"] and rows[2].n == 2


def test_exact_dedup_digest_matches_raw_grouping(spark):
    # digest mode (default) must produce byte-identical output to raw
    # grouping, including multi-column keys with NULLs in either position
    df = spark.createDataFrame(
        [
            (1, "x", "p"), (2, "x", "p"), (3, "y", "p"),
            (4, None, "p"), (5, None, "p"), (6, "p", None),
            (7, None, None), (8, "x", None),
        ],
        "id long, t1 string, t2 string",
    )
    def nullsafe(rows):
        return sorted(
            map(tuple, rows), key=lambda t: tuple((x is None, x) for x in t)
        )

    for keys in (["t1"], ["t1", "t2"]):
        got = nullsafe(exact_dedup(df, keys, "id", digest=True).collect())
        want = nullsafe(exact_dedup(df, keys, "id", digest=False).collect())
        assert got == want
    # (NULL, 'p') and ('p', NULL) are DIFFERENT keys — the null-indicator
    # mix-in keeps them apart even though Spark's xxhash64 skips NULLs
    two_col = exact_dedup(df, ["t1", "t2"], "id").collect()
    assert {(r.t1, r.t2): r.n_dups for r in two_col}[(None, "p")] == 2
    assert {(r.t1, r.t2): r.n_dups for r in two_col}[("p", None)] == 1


def _boilerplate_corpus(spark, n_docs: int = 40):
    # every doc ends with the same boilerplate sentence; docs 2i/2i+1 share
    # a distinctive body (true near-dups), others are unrelated
    boiler = "all rights reserved click here to subscribe to our newsletter"
    rows = []
    for i in range(n_docs):
        body = " ".join(f"w{i // 2}d{j}" for j in range(20))
        rows.append((i, f"{body} u{i} {boiler}"))  # u{i}: per-doc noise
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_shingle_guard_bounds_candidates(spark):
    corpus = _boilerplate_corpus(spark)
    expected = {(2 * i, 2 * i + 1) for i in range(20)}

    # unguarded: the boilerplate shingles pair EVERY doc with every other
    # doc in the self-join; guarded: only true near-dup pairs survive
    guarded = jaccard_shingle_pairs(
        corpus, "doc_id", "text", shingle_len=3, threshold=0.4,
        max_shingle_freq=10,
    ).collect()
    assert {(r.a, r.b) for r in guarded} == expected
    # sizes come from the UNFILTERED index: jaccard stays a lower bound of
    # true Jaccard (denominator includes the boilerplate shingles), so no
    # guarded score may exceed the unguarded score for the same pair
    unguarded = {
        (r.a, r.b): r.jaccard
        for r in jaccard_shingle_pairs(
            corpus, "doc_id", "text", shingle_len=3, threshold=0.0,
            max_shingle_freq=None,
        ).collect()
    }
    for r in guarded:
        assert r.jaccard <= unguarded[(r.a, r.b)] + 1e-12

    # same guard inside minhash-LSH: signatures and the verify join both
    # ignore boilerplate, so only the true pairs come back
    lsh = minhash_lsh_pairs(
        corpus, "doc_id", "text", num_perm=64, bands=16, shingle_len=3,
        threshold=0.4, max_shingle_freq=10,
    ).collect()
    assert {(r.a, r.b) for r in lsh} <= expected
    assert len(lsh) >= int(0.9 * len(expected))


def test_hot_shingle_guard_default_is_finite():
    from elephantdb_spark.operators.dedup import DEFAULT_MAX_SHINGLE_FREQ
    import inspect

    for fn in (jaccard_shingle_pairs, minhash_lsh_pairs):
        default = inspect.signature(fn).parameters["max_shingle_freq"].default
        assert default == DEFAULT_MAX_SHINGLE_FREQ and default is not None


def test_md5_long_col_matches_hashlib(spark):
    """hash_fn='md5' oracle mode: the Spark column must equal the signed
    big-endian int64 of the first 8 md5 bytes (what the DuckDB oracle
    computes from the hex high half)."""
    import hashlib

    from elephantdb_spark.operators.dedup import _md5_long_col

    vals = ["hello world", "a", "ünïcode tëst", "x y z", ""]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for seed in (None, 0, 7):
        got = {
            r.s: r.h
            for r in df.select("s", _md5_long_col(F.col("s"), seed).alias("h")).collect()
        }
        for v in vals:
            raw = v if seed is None else f"{v}:{seed}"
            want = int.from_bytes(
                hashlib.md5(raw.encode()).digest()[:8], "big", signed=True
            )
            assert got[v] == want, (v, seed)


def test_simhash_md5_mode_matches_python(spark, neardup_corpus):
    """md5-mode fingerprints replay exactly in python (same bit sums)."""
    import hashlib

    from elephantdb_spark.operators.dedup import simhash_fingerprints

    sample = neardup_corpus.filter(F.col("doc_id") < 10)
    got = {
        r.doc: r.simhash
        for r in simhash_fingerprints(sample, "doc_id", "text", 1, "md5").collect()
    }
    for r in sample.collect():
        toks = set(r.text.split())
        if not toks:
            continue
        sums = [0] * 64
        for t in toks:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big", signed=True)
            for i in range(64):
                sums[i] += 1 if (h >> i) & 1 == 1 else -1
        fp = 0
        for i in range(64):
            if sums[i] > 0:
                fp += 2**i if i < 63 else -(2**63)
        assert got[r.doc_id] == fp


def test_minhash_md5_mode_precision_and_planted_recall(spark, neardup_corpus):
    """md5 mode keeps the operator's semantics: every emitted pair is a
    true >=threshold pair and the planted near-dups are found."""
    from elephantdb_spark.operators.dedup import (
        jaccard_shingle_pairs,
        minhash_lsh_pairs,
    )
    from elephantdb_spark.pinning import release_pins

    exact = {
        (r.a, r.b)
        for r in jaccard_shingle_pairs(
            neardup_corpus, "doc_id", "text", 3, 0.5
        ).collect()
    }
    lsh = {
        (r.a, r.b)
        for r in minhash_lsh_pairs(
            neardup_corpus, "doc_id", "text", num_perm=32, bands=8,
            shingle_len=3, threshold=0.5, hash_fn="md5",
        ).collect()
    }
    release_pins()
    assert lsh <= exact
    assert len(lsh & exact) >= int(0.9 * len(exact))
    with pytest.raises(ValueError):
        minhash_lsh_pairs(neardup_corpus, "doc_id", "text", hash_fn="sha9000")


def test_strip_duplicate_lines(spark):
    """C4-style boilerplate removal: lines in > max_line_docs distinct
    docs are stripped, order and original bytes preserved, blank lines
    always survive, all-boilerplate docs come back empty."""
    from elephantdb_spark.operators.dedup import strip_duplicate_lines

    docs = spark.createDataFrame(
        [
            (1, "unique one\nfooter\nbody 1"),
            (2, "footer\n\nbody 2"),
            (3, "  footer  \nbody 3"),   # trims to the same hot line
            (4, "footer"),               # all-boilerplate doc
            (5, "body 5\nfooter"),
            (6, ""),                     # empty doc
            (7, None),                   # NULL text (ADVICE r3: must survive)
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in strip_duplicate_lines(docs, "doc_id", "text",
                                       max_line_docs=2).collect()
    }
    assert got[1] == ("unique one\nbody 1", 1)
    assert got[2] == ("\nbody 2", 1)          # blank line kept
    assert got[3] == ("body 3", 1)            # '  footer  ' trimmed == hot
    assert got[4] == ("", 1)                  # every line stripped
    assert got[5] == ("body 5", 1)
    assert got[6] == ("", 0)                  # empty text untouched
    assert got[7] == ("", 0)                  # NULL text kept as empty row
    assert len(got) == 7                      # one row per input document
    # threshold respected: at max_line_docs=5 nothing is hot (footer is in
    # 5 docs, not > 5)
    untouched = {
        r.doc_id: r.n_lines_removed
        for r in strip_duplicate_lines(docs, "doc_id", "text",
                                       max_line_docs=5).collect()
    }
    assert set(untouched.values()) == {0}
    # shuffled anti-join fallback matches the broadcast default
    got_s = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in strip_duplicate_lines(docs, "doc_id", "text",
                                       max_line_docs=2,
                                       broadcast_hot=False).collect()
    }
    assert got_s == got
    with pytest.raises(ValueError):
        strip_duplicate_lines(docs, "doc_id", "text", max_line_docs=0)


def test_profile_table(spark):
    from elephantdb_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 10), (3, None, 10), (4, "a", None)],
        "id long, s string, v long",
    )
    rows = {r.col_name: r for r in profile_table(df, exact_distinct=True).collect()}
    assert set(rows) == {"id", "s", "v"}
    assert all(r.n_rows == 4 for r in rows.values())
    assert (rows["id"].n_nulls, rows["id"].n_distinct) == (0, 4)
    assert (rows["s"].n_nulls, rows["s"].n_distinct) == (1, 2)
    assert (rows["v"].n_nulls, rows["v"].n_distinct) == (2, 1)
    assert (rows["id"].min_val, rows["id"].max_val) == ("1", "4")
    assert (rows["s"].min_val, rows["s"].max_val) == ("a", "b")
    assert (rows["v"].min_val, rows["v"].max_val) == ("10", "10")
    # approx mode: sketch result exact at tiny cardinality, schema identical
    approx = {r.col_name: r for r in profile_table(df).collect()}
    assert approx["id"].n_distinct == 4
    # all-null column profiles to NULL min/max, zero distinct
    dfn = spark.createDataFrame([(None,), (None,)], "x string")
    rn = profile_table(dfn, exact_distinct=True).first()
    assert (rn.n_nulls, rn.n_distinct, rn.min_val, rn.max_val) == (2, 0, None, None)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        profile_table(df, ["nope"])
    with _pytest.raises(ValueError):
        profile_table(df, [])


def _wav_bytes(n_channels=2, rate=8000, n_frames=1600, amp=12000):
    import io as _io
    import wave as _wave

    import numpy as _np

    t = _np.arange(n_frames * n_channels)
    pcm = (amp * _np.sin(t / 7.0)).astype(_np.int16)
    pcm[0] = amp  # make the peak deterministic
    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def _bmp_bytes(w=3, h=2):
    import numpy as _np

    from elephantdb_spark.operators.multimodal import _encode_bmp24

    arr = _np.arange(w * h * 3, dtype=_np.uint8).reshape(h, w, 3)
    return _encode_bmp24(arr)


def test_real_wav_bmp_decoders(spark):
    """E4 upgrade: WAV and uncompressed-BMP decoding is REAL (stdlib +
    numpy); only codec-dependent formats remain stubbed."""
    from elephantdb_spark.operators.multimodal import (
        MULTIMODAL_SCHEMA,
        decode_bmp,
        decode_image,
        decode_wav,
        extract_media_features,
    )

    wav = _wav_bytes()
    bmp = _bmp_bytes()
    d = decode_wav(wav)
    assert (d["n_channels"], d["sample_rate"], d["n_frames"]) == (2, 8000, 1600)
    assert d["duration_ms"] == 200 and d["peak"] == 12000
    assert decode_bmp(bmp) == {"width": 3, "height": 2, "bpp": 24}
    assert decode_image(bmp)["width"] == 3
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")  # codec formats stay stubbed

    rows = [
        (1, wav, ("audio/wav", None, "t")),
        (2, bmp, ("image/bmp", None, "t")),
        (3, b"just text", ("text/plain", "en", "t")),
    ]
    mm = spark.createDataFrame(rows, MULTIMODAL_SCHEMA)
    got = {r.id: r for r in extract_media_features(mm).collect()}
    assert (got[1].n_channels, got[1].sample_rate, got[1].duration_ms) == (2, 8000, 200)
    assert (got[1].width, got[1].height) == (None, None)
    assert (got[2].width, got[2].height) == (3, 2)
    assert got[2].sample_rate is None
    assert got[3].width is None and got[3].n_bytes == 9


def test_real_bmp_resize_roundtrip(spark):
    import numpy as np

    from elephantdb_spark.operators.multimodal import (
        MULTIMODAL_SCHEMA,
        _decode_bmp24_pixels,
        resize_images,
    )

    bmp = _bmp_bytes(w=2, h=2)
    src = _decode_bmp24_pixels(bmp)
    mm = spark.createDataFrame(
        [(1, bmp, ("image/bmp", None, "t"))], MULTIMODAL_SCHEMA
    )
    out = resize_images(mm, width=4, height=4).first()
    assert (out.width, out.height) == (4, 4)
    arr = _decode_bmp24_pixels(bytes(out.payload))
    assert arr.shape == (4, 4, 3)
    # nearest-neighbor: each source pixel becomes a 2x2 block
    assert np.array_equal(arr[::2, ::2], src)
    assert np.array_equal(arr[1::2, 1::2], src)
