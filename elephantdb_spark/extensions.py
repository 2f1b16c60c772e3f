"""Extension operators as driver-checked queries (SURVEY §2 Part D):
deduplication, text analysis, similarity search, multimodal plumbing over
the `documents` / `embeddings` tables.

Oracle design: every deterministic operator has an exact SQL twin — folds
are written as identical left-to-right `list_reduce` chains so even the
floating-point results are bit-equal. Signature/sketch operators are made
hash-checkable too: MinHash-LSH and SimHash via the md5 oracle mode
(q29/q30), hyperplane ANN via the fold bucket mode with plane constants
inlined in the SQL (q31); data-dependent approximations (IVF, q35) emit
deterministic guarantee booleans checked against literal `true` columns —
pytest additionally asserts containment/consistency against the exact
operators.

Duplicate corpora are constructed deterministically from `documents`
(the synthetic texts are all-distinct): exact dups = copies of docs 0..49
under shifted ids; near-dups = docs 0..24 with the first 11 characters
dropped.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephantdb_spark.functions.similarity import cosine_sim_col
from elephantdb_spark.functions.text import (
    BPE_SPLIT_PATTERN,
    DEFAULT_LANG_MARKERS,
    DEFAULT_STOPWORDS,
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    avg_token_len_from_tokens,
    fingerprint_rolling_col,
    lang_id_pick,
    lang_scores_from_tokens,
    stopword_ratio_from_tokens,
    subword_count_col,
    token_count_col,
    tokens_col,
)
from elephantdb_spark.operators.ann import (
    brute_force_topk,
    hyperplanes,
    ivf_topk,
    knn_join,
    lsh_bucket_topk,
)
from elephantdb_spark.operators.dedup import (
    DEFAULT_MAX_SHINGLE_FREQ,
    exact_dedup,
    hot_shingle_report,
    jaccard_shingle_pairs,
    minhash_lsh_pairs,
    repeated_span_profile,
    simhash_neardup_pairs,
    strip_duplicate_lines,
)
from elephantdb_spark.operators.multimodal import attach_payload, extract_features
from elephantdb_spark.operators.retrieval import bm25_topk
from elephantdb_spark.operators.quality import (
    contamination_hits,
    corpus_diff,
    corpus_stats,
    inverted_index,
    repetition_profile,
    tfidf_topk,
)
from elephantdb_spark.functions.redact import (
    duckdb_pii_count_sql,
    duckdb_redact_sql,
    pii_count_col,
    redact_pii,
)
from elephantdb_spark.operators.chunking import chunk_documents
from elephantdb_spark.operators.components import connected_components
from elephantdb_spark.operators.lm import train_ngram_lm
from elephantdb_spark.operators.vectors import (
    duckdb_group_centroids_sql,
    group_centroids,
)
from elephantdb_spark.operators.sampling import (
    deterministic_sample,
    duckdb_md5_u32_sql,
    mix_corpus,
    pack_sequences,
    shuffle_assignments,
    split_corpus,
    stratified_sample,
)
from elephantdb_spark.parity import _table
from elephantdb_spark.pinning import pin

DUP_SHIFT = 100_000
NEARDUP_SHIFT = 200_000
DUP_MAX_ID = 50
NEARDUP_MAX_ID = 25
NEARDUP_DROP = 12  # substring(text, 12): drop the first 11 characters
JACCARD_THRESHOLD = 0.5
COSINE_NEARDUP_THRESHOLD = 0.4

#: marker-word prefixes injected per metadata lang so the detector has
#: something to detect on the synthetic same-vocabulary texts (4 repeats so
#: injected markers dominate natural 'the'/'a' occurrences).
_LANG_PREFIX = {
    "de": "der die das und ist ",
    "es": "el la los y es ",
    "fr": "le la les et est ",
    "en": "the a and of is ",
}
_PREFIX_REPEAT = 4


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < DUP_MAX_ID).select(
        (F.col("doc_id") + DUP_SHIFT).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


_DUP_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    f"UNION ALL SELECT doc_id + {DUP_SHIFT} AS doc_id, text FROM documents "
    f"WHERE doc_id < {DUP_MAX_ID}"
)


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    nd = docs.filter(F.col("doc_id") < NEARDUP_MAX_ID).select(
        (F.col("doc_id") + NEARDUP_SHIFT).alias("doc_id"),
        F.expr(f"substring(text, {NEARDUP_DROP})").alias("text"),
    )
    return docs.unionByName(nd)


_NEARDUP_CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    f"UNION ALL SELECT doc_id + {NEARDUP_SHIFT} AS doc_id, "
    f"substr(text, {NEARDUP_DROP}) AS text FROM documents "
    f"WHERE doc_id < {NEARDUP_MAX_ID}"
)


# ---------------------------------------------------------------------------
# E1: exact dedup
# ---------------------------------------------------------------------------

def q20_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return exact_dedup(corpus, ["text"], "doc_id").select(
        F.md5(F.col("text")).alias("grp"), "keep_id", "n_dups"
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# E6: deterministic sampling / packing (operators/sampling.py) — md5-based
# so the oracles are exact cross-engine.
# ---------------------------------------------------------------------------

SAMPLE_RATE = 0.25
SAMPLE_SALT = "edb-r2"
STRATA_N = 20
PACK_CAPACITY = 512


def q18_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible Bernoulli sample by md5 threshold — pure filter, zero
    shuffle, stable under task retries (unlike rand())."""
    docs = _table(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", SAMPLE_RATE, SAMPLE_SALT).select(
        "doc_id"
    ).orderBy("doc_id")


def q19_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-per-group stratified sample (balanced corpus across
    languages) — hash-ordered row_number within each stratum."""
    docs = _table(spark, sf_dir, "documents")
    return stratified_sample(docs, ["lang"], "doc_id", STRATA_N).select(
        "doc_id", "lang"
    ).orderBy("lang", "doc_id")


SHUFFLE_FILES = 8
SHUFFLE_SALT = "epoch0"


def q78_shuffled_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle into balanced training shards: every
    document gets (file_id, pos) — a pseudo-random permutation that is a
    pure function of (doc_id, salt), so the epoch order survives reruns,
    task retries, and engine swaps. One shuffle on file_id."""
    docs = _table(spark, sf_dir, "documents")
    return (
        shuffle_assignments(docs, "doc_id", SHUFFLE_FILES, SHUFFLE_SALT)
        .select("doc_id", "file_id", "pos")
        .orderBy("file_id", "pos")
    )


def q56_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous sequence packing: per-language token bins of
    PACK_CAPACITY in doc_id order (the LLM pre-training batch-packing
    shape), bin + offset assigned by one windowed cumulative sum."""
    docs = _table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    packed = pack_sequences(
        docs, ["lang"], "doc_id", token_count_col(F.col("text")), PACK_CAPACITY
    )
    return packed.select("doc_id", "lang", "bin", "bin_offset").orderBy(
        "lang", "doc_id"
    )


# ---------------------------------------------------------------------------
# E7: corpus quality / curation (operators/quality.py)
# ---------------------------------------------------------------------------

REP_NGRAM_LEN = 2
CONTAM_NGRAM_LEN = 3
CONTAM_BENCH_MOD = 41  # docs with doc_id % 41 == 0 form the "benchmark"
TFIDF_K = 3
SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SALT = "edb-split"


def q57_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals as pure Column expressions — the
    whole profile rides in the scan stage, zero shuffles."""
    docs = _table(spark, sf_dir, "documents")
    prof = repetition_profile(docs, "doc_id", "text", REP_NGRAM_LEN)
    return prof.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_ngram_frac", 6).alias("dup_ngram_frac"),
        F.round("top_ngram_frac", 6).alias("top_ngram_frac"),
    ).orderBy("doc_id")


def q58_contamination_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: corpus docs sharing a 3-gram with
    the benchmark slice (doc_id % 41 == 0), benchmark n-grams broadcast
    so the corpus never shuffles."""
    docs = _table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    return contamination_hits(
        corpus, bench, "doc_id", "text", CONTAM_NGRAM_LEN
    ).orderBy("doc_id")


def q59_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by md5 hash range — membership
    depends only on doc_id, stable across corpus re-builds."""
    docs = _table(spark, sf_dir, "documents")
    return split_corpus(docs, "doc_id", SPLIT_FRACTIONS, SPLIT_SALT).select(
        "doc_id", "split"
    ).orderBy("doc_id")


#: Mixing budgets (tokens): src0 fractional rate, src1 higher fractional
#: rate, src2 capped at 1.0 (budget >> total), src3 zero budget (dropped),
#: all other sources absent from the allocation (dropped).
MIX_BUDGETS = {"src0": 400, "src1": 700, "src2": 10**9, "src3": 0}
MIX_SALT = "edb-mix"


def q61_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: deterministic per-source downsampling to token
    budgets — per-source totals broadcast into an md5-threshold filter;
    the corpus never shuffles."""
    docs = _table(spark, sf_dir, "documents")
    withtok = docs.select(
        "doc_id", "source", token_count_col(F.col("text")).alias("n_toks")
    )
    return mix_corpus(
        withtok, "source", "doc_id", "n_toks", MIX_BUDGETS, MIX_SALT
    ).select("doc_id", "source").orderBy("doc_id")


def q62_train_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram LM trained over the corpus: conditional
    probabilities as exact integer-ratio doubles (cross-engine exact)."""
    docs = _table(spark, sf_dir, "documents")
    lm = train_ngram_lm(docs, "text", n=2)
    return lm.select(
        "prefix", "next_token", "c", F.round("prob", 6).alias("prob")
    ).orderBy("prefix", "next_token")


def q65_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph (the dedup
    endgame): pointer-jumped hash-min label propagation; cluster id =
    component minimum. Oracle: recursive-CTE transitive closure."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = jaccard_shingle_pairs(
        corpus, "doc_id", "text", shingle_len=3, threshold=JACCARD_THRESHOLD
    )
    return connected_components(pairs, "a", "b").orderBy("node")


#: q76 synthesizes one WAV per document with n_frames = n_chars at this
#: rate, so the REAL decoder's outputs are pure arithmetic for the oracle.
WAV_RATE = 8000


def q76_wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode through the driver: synthesize a PCM16 WAV per
    document (n_frames = n_chars), run the format-dispatching
    mapInPandas feature extractor (stdlib wave decode — no fakes on this
    path), and return the SQL-predictable audio properties."""
    import pandas as pd

    from elephantdb_spark.operators.multimodal import (
        MULTIMODAL_SCHEMA,
        extract_media_features,
        synth_wav,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "payload": [synth_wav(int(n), WAV_RATE) for n in pdf["n_chars"]],
                    "meta": [
                        {"media_type": "audio/wav", "lang": None, "source": "synth"}
                    ] * len(pdf),
                }
            )

    mm = docs.mapInPandas(gen, MULTIMODAL_SCHEMA)
    return extract_media_features(mm).select(
        "id", "n_channels", "sample_rate", "duration_ms"
    ).orderBy("id")


def q92_png_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the driver: synthesize an 8-bit PNG per
    document (dims/channels derived from n_chars), run the
    format-dispatching mapInPandas extractor (stdlib zlib inflate +
    scanline unfiltering — no fakes on this path), and return the
    SQL-predictable image properties. The PNG twin of q76's WAV row."""
    import pandas as pd

    from elephantdb_spark.operators.multimodal import (
        MULTIMODAL_SCHEMA,
        extract_media_features,
        synth_png,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "payload": [
                        synth_png(int(n) % 64 + 1, int(n) % 32 + 1, int(n) % 4 + 1)
                        for n in pdf["n_chars"]
                    ],
                    "meta": [
                        {"media_type": "image/png", "lang": None, "source": "synth"}
                    ] * len(pdf),
                }
            )

    mm = docs.mapInPandas(gen, MULTIMODAL_SCHEMA)
    return extract_media_features(mm).select(
        "id", "width", "height", "n_channels"
    ).orderBy("id")


def q93_mp4_container_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 container metadata through the driver: synthesize a
    minimal ISO-BMFF file per document (duration/dims derived from
    n_chars), parse the box tree with the pure-struct walker
    (multimodal.decode_mp4 — no fakes on this path), and return the
    SQL-predictable container properties. Frame decode stays stubbed;
    this is the container layer a pipeline filters/routes on."""
    import pandas as pd

    from elephantdb_spark.operators.multimodal import (
        MULTIMODAL_SCHEMA,
        extract_media_features,
        synth_mp4,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "payload": [
                        synth_mp4(
                            int(n) * 10, int(n) % 128 + 16, int(n) % 64 + 16
                        )
                        for n in pdf["n_chars"]
                    ],
                    "meta": [
                        {"media_type": "video/mp4", "lang": None, "source": "synth"}
                    ] * len(pdf),
                }
            )

    mm = docs.mapInPandas(gen, MULTIMODAL_SCHEMA)
    return extract_media_features(mm).select(
        "id", "duration_ms", "width", "height"
    ).orderBy("id")


def q94_jpeg_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode through the driver: encode a baseline
    JPEG per document with the pure-numpy codec (operators/jpeg — Annex-K
    Huffman, DCT, YCbCr), decode it back through the format-dispatching
    extractor, and return the SQL-predictable header properties. Closes
    the last image-codec stub: WAV/BMP/PNG/JPEG all decode for real."""
    import numpy as np
    import pandas as pd

    from elephantdb_spark.operators.jpeg import encode_jpeg
    from elephantdb_spark.operators.multimodal import (
        MULTIMODAL_SCHEMA,
        extract_media_features,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth(n: int) -> bytes:
        w, h = n % 32 + 1, n % 16 + 1
        c = 3 if n % 2 == 0 else 1
        ys, xs = np.mgrid[0:h, 0:w]
        arr = np.stack(
            [np.clip(xs * 3 + ys * 2 + 40 * i, 0, 255) for i in range(c)], -1
        ).astype(np.uint8)
        return encode_jpeg(arr, quality=85)

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "payload": [synth(int(n)) for n in pdf["n_chars"]],
                    "meta": [
                        {"media_type": "image/jpeg", "lang": None, "source": "synth"}
                    ] * len(pdf),
                }
            )

    mm = docs.mapInPandas(gen, MULTIMODAL_SCHEMA)
    return extract_media_features(mm).select(
        "id", "width", "height", "n_channels"
    ).orderBy("id")


def q95_gif_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling through the driver: synthesize an
    animated GIF per document (frame count/dims from n_chars), extract
    every 2nd frame with the real LZW decoder
    (multimodal.sample_frames_df → operators/gif), and return the
    SQL-predictable (id, frame_idx) explosion. Closes the frame-sampling
    stub for a genuine multi-frame format; codec video (MP4/H.264) stays
    honestly stubbed."""
    import pandas as pd

    from elephantdb_spark.operators.gif import synth_gif
    from elephantdb_spark.operators.multimodal import (
        MULTIMODAL_SCHEMA,
        sample_frames_df,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "payload": [
                        synth_gif(
                            int(n) % 16 + 4, int(n) % 8 + 4, int(n) % 8 + 2
                        )
                        for n in pdf["n_chars"]
                    ],
                    "meta": [
                        {"media_type": "image/gif", "lang": None, "source": "synth"}
                    ] * len(pdf),
                }
            )

    mm = docs.mapInPandas(gen, MULTIMODAL_SCHEMA)
    return (
        sample_frames_df(mm, every_n=2, use_real_decoder=True)
        .select("id", "frame_idx")
        .orderBy("id", "frame_idx")
    )


def q99_avi_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec-compressed video frame sampling (VERDICT r4 item 4):
    synthesize an MJPEG-in-AVI per document (operators/avi — RIFF
    container + per-frame baseline JPEG via operators/jpeg), sample every
    2nd frame with the real decoder, and join the container metadata
    (dims + duration from the avih header through
    extract_media_features). Everything SQL-predictable: frame indices
    from the synthesized frame count, dims/duration from the header. The
    q95 GIF pattern applied to a genuinely codec-compressed format — the
    NotImplementedError now covers only inter-frame codecs."""
    import pandas as pd

    from elephantdb_spark.operators.avi import synth_avi
    from elephantdb_spark.operators.multimodal import (
        MULTIMODAL_SCHEMA,
        extract_media_features,
        sample_frames_df,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "payload": [
                        synth_avi(
                            int(n) % 16 + 8, int(n) % 8 + 8, int(n) % 6 + 2
                        )
                        for n in pdf["n_chars"]
                    ],
                    "meta": [
                        {"media_type": "video/x-msvideo", "lang": None,
                         "source": "synth"}
                    ] * len(pdf),
                }
            )

    # two consumers (frame sampling + container metadata) branch off mm:
    # materialize once so each document's AVI is not synthesized per
    # branch (localCheckpoint truncates lineage; eager so the synth cost
    # is paid exactly once, here)
    mm = docs.mapInPandas(gen, MULTIMODAL_SCHEMA).localCheckpoint(eager=True)
    frames = sample_frames_df(mm, every_n=2, use_real_decoder=True).select(
        "id", "frame_idx"
    )
    meta = extract_media_features(mm).select(
        "id", "width", "height", "duration_ms"
    )
    return (
        frames.join(meta, "id")
        .select("id", "frame_idx", "width", "height", "duration_ms")
        .orderBy("id", "frame_idx")
    )


def q96_html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL HTML main-text extraction (operators/html — stdlib
    html.parser): each document is wrapped in a deterministic page
    template (title with an entity, head styles, script junk, paragraph
    breaks at ' the ' boundaries), then extracted back; the oracle
    derives the expected title/text from the raw text with SQL string
    ops. The crawl-ingest front of the curation pipeline, hash-checked
    end to end."""
    from elephantdb_spark.operators.html import extract_html_text

    docs = _table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc &amp; "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{margin:0}</style></head><body>"
              "<h1>Heading</h1><p>"),
        F.replace(F.col("text"), F.lit(" the "), F.lit("</p><p>")),
        F.lit("</p><script>var x=1;</script></body></html>"),
    )
    wrapped = docs.select("doc_id", html.alias("html"))
    out = extract_html_text(wrapped, "doc_id", "html")
    return out.select(
        F.col("id").alias("doc_id"), "title", "text"
    ).orderBy("doc_id")


def q97_warc_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl-ingest path, hash-checked end to end: per-document
    WARC archive (warcinfo + HTTP response record) → record explode with
    HTTP-header strip (sources/warc) → HTML main-text extraction
    (operators/html) → (doc_id, uri, title, text). Every byte of the
    fixture derives from the documents table, so the oracle recomputes
    the expected output with SQL string ops."""
    import pandas as pd

    from elephantdb_spark.operators.html import extract_html_text
    from elephantdb_spark.sources.warc import build_warc, warc_records_df

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                html = (
                    f"<html><head><title>Page {did}</title>"
                    "<style>p{}</style></head><body><h1>H</h1><p>"
                    + str(text).replace(" the ", "</p><p>")
                    + "</p><script>x()</script></body></html>"
                )
                payloads.append(
                    build_warc(
                        [
                            {"warc_type": "warcinfo", "block": b"software: edb\r\n"},
                            {
                                "warc_type": "response",
                                "target_uri": f"http://ex.com/{did}",
                                "date": "2026-08-14T00:00:00Z",
                                "block": (
                                    b"HTTP/1.1 200 OK\r\n"
                                    b"Content-Type: text/html\r\n\r\n"
                                    + html.encode()
                                ),
                            },
                        ]
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "warc": payloads})

    warcs = docs.mapInPandas(gen, "doc_id long, warc binary")
    pages = warc_records_df(warcs, "doc_id", "warc").select(
        F.col("id").alias("doc_id"),
        F.col("target_uri").alias("uri"),
        F.decode(F.col("body"), "UTF-8").alias("html"),
    )
    # uri rides THROUGH the extraction stage: joining it back on doc_id
    # would recompute the synthesize+parse python chain per join branch
    return (
        extract_html_text(pages, "doc_id", "html", passthrough=("uri",))
        .select(F.col("id").alias("doc_id"), "uri", "title", "text")
        .orderBy("doc_id")
    )


def q98_url_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host extraction (functions/url — pure
    JVM-regex Column expressions in the Java ∩ RE2 dialect): messy URLs
    (mixed case, userinfo, default ports, fragments, empty queries,
    trailing slashes) derived from doc_id, normalized for the per-host
    cap/dedup keying a crawl pipeline runs on."""
    from elephantdb_spark.functions.url import host_col, normalize_url_col

    docs = _table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    messy = F.when(
        did % 2 == 0,
        F.concat(
            F.lit("HTTPS://Www.Site"), did.cast("string"), F.lit(".ORG:443/")
        ),
    ).otherwise(
        F.concat(
            F.lit("HTTP://User@Ex"),
            (did % 5).cast("string"),
            F.lit(".COM:80/Path/"),
            did.cast("string"),
            F.when(did % 3 == 0, F.lit("#Frag"))
            .when(did % 3 == 1, F.lit("?"))
            .otherwise(F.lit("?q=1")),
        )
    )
    return docs.select(
        "doc_id",
        normalize_url_col(messy).alias("url_norm"),
        host_col(messy).alias("host"),
    ).orderBy("doc_id")


#: q75 profiles the string/bigint document columns (floats excluded: their
#: string rendering is engine-specific).
PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


def q75_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column ingest profile (nulls / exact distincts / min-max) in
    one combinable aggregation pass — the Deequ-style data-quality gate."""
    from elephantdb_spark.operators.profile import profile_table

    docs = _table(spark, sf_dir, "documents")
    return profile_table(docs, PROFILE_COLS, exact_distinct=True)


def q74_cluster_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram — the report that tunes dedup
    thresholds at scale: per cluster size, how many clusters. Output is
    histogram-sized (tiny) no matter the corpus; two combinable
    aggregations over the CC labels."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = jaccard_shingle_pairs(
        corpus, "doc_id", "text", shingle_len=3, threshold=JACCARD_THRESHOLD
    )
    comps = connected_components(pairs, "a", "b")
    sizes = comps.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


#: q73: footers planted per doc_id % N — each shared by ~1/N of the corpus,
#: far above the hot-line threshold.
BOILERPLATE_MOD = 3
BOILERPLATE_MAX_DOCS = 5


def q73_strip_duplicate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level boilerplate-line removal: plant a footer
    line shared by ~1/3 of documents, then strip every line appearing in
    more than BOILERPLATE_MAX_DOCS docs. The digest-keyed internal
    shuffle never leaks into the output, so the oracle replays the whole
    operator on raw line strings."""
    docs = _table(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\ncommon footer "),
            (F.col("doc_id") % BOILERPLATE_MOD).cast("string"),
        ).alias("text"),
    )
    out = strip_duplicate_lines(
        corpus, "doc_id", "text", max_line_docs=BOILERPLATE_MAX_DOCS
    )
    return out.orderBy("doc_id")


def q68_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via fixed-point aggregation —
    order-independent integer sums make the distributed float mean
    bit-reproducible (and hence oracle-hashable)."""
    emb = _table(spark, sf_dir, "embeddings")
    return group_centroids(emb, "label", "embedding").orderBy("label", "dim")


HOT_SHINGLE_TOP_N = 25


def q71_hot_shingle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate report: top-N most shared 3-gram shingles with doc
    frequencies — the empirical basis for max_shingle_freq."""
    docs = _table(spark, sf_dir, "documents")
    return hot_shingle_report(docs, "doc_id", "text", 3, HOT_SHINGLE_TOP_N)


DIFF_ADD_SHIFT = 300_000


def q70_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus version diff (between-crawls changelog): 'new' mutates
    docs ending in 3 (text + ' v2'), removes docs ending in 7, and adds
    shifted copies of docs < 20. The operator compares 128-bit digests
    (text never shuffles); the oracle compares raw text — semantically
    identical, so the hash match validates the digest shortcut."""
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 3, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    new = new.unionByName(
        docs.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + DIFF_ADD_SHIFT).alias("doc_id"), "text"
        )
    )
    return corpus_diff(docs, new, "doc_id", "text").orderBy("doc_id")


def q69_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report: doc/token/char totals and exact-ratio
    average tokens — one map-side-combinable aggregation."""
    docs = _table(spark, sf_dir, "documents")
    return corpus_stats(docs, "source", "text").orderBy("source")


MAX_POSTINGS = 50


def q67_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index build: token -> sorted posting list (comma-joined),
    true document frequency, hot-token lists truncated at MAX_POSTINGS."""
    docs = _table(spark, sf_dir, "documents")
    return inverted_index(docs, "doc_id", "text", MAX_POSTINGS).orderBy("token")


CHUNK_WINDOW = 32
CHUNK_STRIDE = 24


def q63_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 32, stride 24) — pure
    scan-stage explode, zero shuffles."""
    docs = _table(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "doc_id", "text", CHUNK_WINDOW, CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_idx")


def _pii_corpus(docs: DataFrame) -> DataFrame:
    """Deterministically inject synthetic PII (emails/IPs/SSNs) into the
    all-clean synthetic texts; mirrored exactly by _PII_CORPUS_SQL."""
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".7")),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_PII_CORPUS_SQL = (
    "SELECT doc_id, text "
    "|| CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END "
    "|| CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END "
    "|| CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END "
    "AS text FROM documents"
)


def q64_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-category counts over a deterministically
    PII-injected corpus — all JVM-side regexp work in the scan stage."""
    corpus = _pii_corpus(_table(spark, sf_dir, "documents"))
    return corpus.select(
        "doc_id",
        redact_pii(F.col("text")).alias("redacted"),
        pii_count_col(F.col("text"), "email").alias("n_email"),
        pii_count_col(F.col("text"), "ip").alias("n_ip"),
        pii_count_col(F.col("text"), "ssn").alias("n_ssn"),
    ).orderBy("doc_id")


def q60_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k salient tokens per doc by ratio IDF (tf·N/df — rank-equal to
    log IDF, float-exact cross-engine)."""
    docs = _table(spark, sf_dir, "documents")
    out = tfidf_topk(docs, "doc_id", "text", TFIDF_K)
    return out.select(
        "doc_id", "token", "tf", "dfreq", F.round("score", 6).alias("score")
    ).orderBy("doc_id", "token")


# ---------------------------------------------------------------------------
# E3: text analysis
# ---------------------------------------------------------------------------

def q21_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count_col(F.col("text")).alias("n_tokens")
    ).orderBy("doc_id")


def q22_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize ONCE behind a projection boundary (r18): the three inline
    # metric columns each re-ran the regex tokenization (several times
    # each — higher-order-lambda references are not CSE'd), measured
    # 0.84 s → 0.57 s warm / 49 s → 9 s first-run at sf0.1 with
    # byte-identical output
    docs = _table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("__toks")
    )
    return toked.select(
        "doc_id",
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.round(stopword_ratio_from_tokens(F.col("__toks")), 6).alias(
            "stop_ratio"
        ),
        F.round(avg_token_len_from_tokens(F.col("__toks")), 6).alias(
            "avg_tok_len"
        ),
    ).orderBy("doc_id")


def _marked_text() -> F.Column:
    prefix = None
    for lang, p in _LANG_PREFIX.items():
        clause = F.lit(p * _PREFIX_REPEAT)
        prefix = (
            F.when(F.col("lang") == lang, clause)
            if prefix is None
            else prefix.when(F.col("lang") == lang, clause)
        )
    return F.concat(prefix.otherwise(F.lit("")), F.col("text"))


def q23_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two projection boundaries (r18): tokenize the marked text once,
    # then materialize each language's marker count as a real column —
    # the argmax WHEN-chain references every count several times, so the
    # inline form re-ran the tokenization O(languages²) times per row
    # (measured 1.75 s → 0.99 s warm at sf0.1, identical output)
    docs = _table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens_col(_marked_text()).alias("__toks")
    )
    scores = lang_scores_from_tokens(F.col("__toks"))
    scored = toked.select(
        "doc_id", *[c.alias(f"__s_{lang}") for lang, c in scores.items()]
    )
    pred = lang_id_pick({lang: F.col(f"__s_{lang}") for lang in scores})
    return scored.select("doc_id", pred.alias("lang_pred")).orderBy("doc_id")


def q24_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", fingerprint_rolling_col(F.col("text")).alias("fp")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# E2: near-dup / similarity
# ---------------------------------------------------------------------------

def q25_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = jaccard_shingle_pairs(
        corpus, "doc_id", "text", shingle_len=3, threshold=JACCARD_THRESHOLD
    )
    return pairs.select(
        "a", "b", F.round(F.col("jaccard"), 6).alias("jaccard")
    ).orderBy("a", "b")


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = _table(spark, sf_dir, "embeddings")
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def q26_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _table(spark, sf_dir, "embeddings")
    top = brute_force_topk(
        emb, _query_vec(spark, sf_dir), k=10, exclude_ids=[0]
    )
    return top.select(
        F.col("id").alias("vec_id"), F.round(F.col("sim"), 6).alias("sim")
    )


def q27_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", cosine_sim_col(F.col("va"), F.col("vb")).alias("sim_raw"))
        .filter(F.col("sim_raw") >= COSINE_NEARDUP_THRESHOLD)
        .select("a", "b", F.round(F.col("sim_raw"), 6).alias("sim"))
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# E4: multimodal plumbing
# ---------------------------------------------------------------------------

def q28_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _table(spark, sf_dir, "documents")
    mm = attach_payload(docs, "doc_id", "text", "lang", "source")
    return extract_features(mm).orderBy("id")


# ---------------------------------------------------------------------------
# Signature-based near-dup operators, oracle mode (VERDICT r2 item 4):
# hash_fn="md5" swaps xxhash64 for the DuckDB-replicable md5 high half
# (sharding.py's two-halves signed trick), making the full MinHash-LSH and
# SimHash pipelines SQL-oracle-able; xxhash64 stays the production default
# (pytest cross-checks the two modes agree on detected pairs).
# ---------------------------------------------------------------------------

def q29_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    return minhash_lsh_pairs(
        corpus, "doc_id", "text", num_perm=32, bands=8,
        shingle_len=3, threshold=JACCARD_THRESHOLD, hash_fn="md5",
    ).select("a", "b", F.round(F.col("jaccard"), 6).alias("jaccard")).orderBy("a", "b")


def q30_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    return simhash_neardup_pairs(
        corpus, "doc_id", "text", max_hamming=3, bands=4, hash_fn="md5"
    ).select("a", "b", F.col("hamming").cast("int").alias("hamming")).orderBy("a", "b")


def q16_ann_lsh_exact_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN in its provably-exact degenerate mode (VERDICT r1): with
    ``max_hamming == n_bits`` every bucket passes the ring filter, so the
    candidate set is the whole corpus and the result equals brute force —
    which IS SQL-expressible. This pins the approximate operator's machinery
    (hyperplane bucketing, ring filter, re-rank) to an exact oracle; q31
    stays the approximate, rows-only variant of the same code path."""
    emb = _table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return lsh_bucket_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_bits=8, max_hamming=8
    ).select(F.col("id").alias("vec_id"), F.round(F.col("sim"), 6).alias("sim"))


def q17_ann_ivf_exact_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in its provably-exact degenerate mode: ``n_probe == n_cells``
    probes every cell and each vector lives in exactly one cell, so the
    candidate set is the whole corpus and the result equals brute force
    (ann.ivf_topk docstring anchor). Exact-oracle twin of the rows-only
    q35."""
    emb = _table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return ivf_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_cells=8, n_probe=8
    ).select(F.col("id").alias("vec_id"), F.round(F.col("sim"), 6).alias("sim"))


def q31_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate LSH top-k, EXACTLY hash-checked (VERDICT r3 item 2):
    ``bucket_mode="fold"`` makes every bucket bit the sign of a
    sequential-fold dot product, and the hyperplanes depend only on
    (dim, n_bits, seed) — never on data — so the DuckDB oracle replays
    the full pipeline (bucketing, hamming-ring filter, exact re-rank)
    with the plane constants inlined. The q29 md5-mode pattern applied
    to hyperplane LSH; the arrow bucket mode stays the production
    default (pytest asserts the two modes agree)."""
    emb = _table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    return lsh_bucket_topk(
        emb, _query_vec(spark, sf_dir), k=10, n_bits=8, max_hamming=2,
        bucket_mode="fold",
    ).select(F.col("id").alias("vec_id"), F.round(F.col("sim"), 6).alias("sim"))


#: q35 recall floor: measured 7-8/10 across sf0.001/0.01/0.1; 4 sits far
#: enough under that a regenerated testdata draw cannot flake the row while
#: still proving the probe beats the 3-of-8-cells random baseline.
Q35_MIN_HITS = 4


def q35_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k as a BOUNDS CHECK (VERDICT r3 item 2). Unlike
    q31, the coarse quantizer is data-dependent (k-means on a sample), so
    no static SQL can replay it; instead the query emits deterministic
    guarantees computed against the exact twin in the same plan:

    * ``n_le_k`` — the probe returns at most k rows;
    * ``kth_bounded_by_exact`` — candidates are a corpus subset, so the
      approximate k-th similarity can never exceed the exact k-th;
    * ``recall_ok`` — recall@10 >= Q35_MIN_HITS/10 vs exact brute force.

    All three are data-deterministic (seeded centroids), so the oracle is
    three literal ``true`` columns. q17 (n_probe == n_cells) remains the
    exact-mode twin of the same code path."""
    emb = _table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    q = _query_vec(spark, sf_dir)
    approx = ivf_topk(emb, q, k=10, n_cells=8, n_probe=3)
    exact = brute_force_topk(emb, q, k=10)
    a = approx.agg(F.count(F.lit(1)).alias("n"), F.min("sim").alias("amin"))
    e = exact.agg(F.min("sim").alias("emin"))
    hits = approx.select("id").join(exact.select("id"), "id").agg(
        F.count(F.lit(1)).alias("hits")
    )
    return a.crossJoin(e).crossJoin(hits).select(
        (F.col("n") <= F.lit(10)).alias("n_le_k"),
        ((F.col("n") < F.lit(10)) | (F.col("amin") <= F.col("emin"))).alias(
            "kth_bounded_by_exact"
        ),
        (F.col("hits") >= F.lit(Q35_MIN_HITS)).alias("recall_ok"),
    )


_INDEX_ROOTS: dict[str, str] = {}


def _ivf_index_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) the persisted IVF index domain
    over the embeddings table — the q77 fixture, mirroring parity.py's
    domains_root build-once-serve-many shape."""
    from elephantdb_spark.operators.ann_index import build_ivf_index

    sf_dir = os.path.abspath(sf_dir)
    cached = _INDEX_ROOTS.get(sf_dir)
    if cached is not None:
        return cached
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"edb_ivfidx_{tag}_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)  # pid-reuse leftovers
    root = os.path.join(base, "emb_ivf")
    emb = _table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    build_ivf_index(spark, emb, root, n_cells=8, version=1)
    _INDEX_ROOTS[sf_dir] = root
    return root


def q77_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe a PERSISTED IVF index domain (operators/ann_index — VERDICT r3
    item 3: the serving-style ANN surface). The index is built and
    published once through the versioned-store machinery (A17 token
    publish; cell = shard, so the probe is a partition-pruned read); this
    driver row probes it in exact mode (n_probe == n_cells), so the result
    must equal brute force and the q17 SQL oracle applies verbatim.
    Approximate-probe guarantees are covered by q35's bounds booleans."""
    from elephantdb_spark.operators.ann_index import ivf_index_probe

    root = _ivf_index_root(spark, sf_dir)
    return ivf_index_probe(
        spark, root, _query_vec(spark, sf_dir), k=10, n_probe=8
    ).select(F.col("id").alias("vec_id"), F.round(F.col("sim"), 6).alias("sim"))


def q91_repeated_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring detection
    (dedup.repeated_span_profile — the strided char-gram approximation of
    ExactSubstr dedup) over the near-dup fixture corpus, where the 250
    shifted re-ingests guarantee genuinely shared 40-char spans. Spans
    shuffle as digests; the oracle replays on raw grams (q20 digest
    convention)."""
    corpus = _neardup_corpus(spark, sf_dir)
    return repeated_span_profile(
        corpus, "doc_id", "text", gram_chars=40, stride=20, max_gram_docs=1
    ).orderBy("doc_id")


def q90_index_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN served from the PERSISTED IVF index domain
    (ann_index.ivf_index_knn_join): the data side's cells come from the
    index's partition layout (assigned once at build — the quantizer
    never re-runs over the corpus), only the 19 probe rows compute cells.
    Exact mode (n_probe == n_cells) makes the result equal the exact
    per-query top-3 over the corpus, so the q45 oracle shape applies
    restricted to the probe set; fold scorer for bit-exact SQL parity
    (arrow==fold is pytest-anchored)."""
    from elephantdb_spark.operators.ann_index import ivf_index_knn_join

    root = _ivf_index_root(spark, sf_dir)
    emb = _table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") > 0) & (F.col("vec_id") < 20))
    out = ivf_index_knn_join(spark, root, queries, k=3, n_probe=8, scorer="fold")
    return out.select(
        "a",
        "b",
        F.round(F.col("sim"), 6).alias("sim"),
        F.col("rk").cast("int").alias("rk"),
    ).orderBy("a", "rk")


def q46_subword_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword pre-token count per document
    (functions/text.subword_count_col) — the LLM token-budget estimate."""
    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", subword_count_col(F.col("text")).alias("n_subwords")
    ).orderBy("doc_id")


def q101_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training, round-0 statistics (operators/bpe):
    word-count table (the ONLY corpus-sized pass — map-side combinable),
    symbol pairs with the </w> end-of-word marker, top-20 merge
    candidates by (count desc, pair asc). The oracle replays the exact
    pair construction in SQL — this is the aggregation every BPE merge
    iteration runs over the vocab table."""
    from elephantdb_spark.operators.bpe import initial_pair_counts

    docs = _table(spark, sf_dir, "documents")
    return (
        initial_pair_counts(docs, "text")
        .orderBy(F.col("count").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


def q102_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding with a fixed merge table (operators/bpe.apply_bpe):
    one Arrow-batched scan, zero shuffle, merge ranks in the closure.
    A single ('e','s') merge keeps the oracle exact: for distinct
    symbols a≠b the greedy encoder collapses exactly the leftmost
    non-overlapping occurrences — the same set SQL replace() rewrites —
    so n_tokens = (chars + 1 EOW) - #occurrences, computable per word
    from length deltas."""
    from elephantdb_spark.operators.bpe import apply_bpe

    docs = _table(spark, sf_dir, "documents")
    return apply_bpe(docs, "doc_id", "text", [("e", "s")]).orderBy("doc_id")


def q50_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packaged cleaning pipeline (pipeline.clean_corpus) with its
    SQL-expressible stages: quality gate (>= 30 whitespace tokens) + exact
    dedup keeping the smallest doc_id per identical text. The near-dup
    stage is xxhash-based and covered rows-only via q29/q30; here it is
    off so the whole pipeline output is oracle-hashable."""
    from elephantdb_spark.pipeline import clean_corpus

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    out = clean_corpus(docs, min_tokens=30, neardup=None)
    return out.select("doc_id").orderBy("doc_id")


def q45_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs kNN join: top-3 cosine neighbors per vector
    (operators/ann.knn_join — the correctness baseline for ivf_knn_join,
    which pytest anchors to this at n_probe == n_cells)."""
    emb = _table(spark, sf_dir, "embeddings")
    return (
        knn_join(emb, k=3)
        .select("a", "b", F.round(F.col("sim"), 6).alias("sim"), "rk")
        .orderBy("a", "rk")
    )


#: q80 incremental batch: every 5th doc re-ingested under a shifted id,
#: every 3rd of those with fresh text (genuinely new content).
_HISTORY_BATCH_ID_SHIFT = 1_000_000


def _history_batch(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.filter(did % 5 == 0).select(
        (did + _HISTORY_BATCH_ID_SHIFT).alias("doc_id"),
        F.when(did % 3 == 0, F.concat(F.col("text"), F.lit(" fresh content")))
        .otherwise(F.col("text"))
        .alias("text"),
    )


_HISTORY_BATCH_SQL = (
    f"SELECT doc_id + {_HISTORY_BATCH_ID_SHIFT} AS doc_id, "
    "CASE WHEN doc_id % 3 = 0 THEN text || ' fresh content' ELSE text END AS text "
    "FROM documents WHERE doc_id % 5 = 0"
)


def _dedup_history_root(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-per-process seen-set domain over the documents corpus
    (the q80 fixture — same shape as _ivf_index_root)."""
    from elephantdb_spark.operators.history import build_dedup_history
    from elephantdb_spark.spec import DomainSpec

    sf_dir = os.path.abspath(sf_dir)
    key = f"dedup_history::{sf_dir}"
    cached = _INDEX_ROOTS.get(key)
    if cached is not None:
        return cached
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"edb_dedup_hist_{tag}_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)  # pid-reuse leftovers
    root = os.path.join(base, "doc_digests")
    docs = _table(spark, sf_dir, "documents")
    build_dedup_history(
        spark, docs, root, ["text"], "doc_id", DomainSpec(num_shards=8), version=1
    )
    _INDEX_ROOTS[key] = root
    return root


def q80_dedup_against_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators/history): the corpus's content
    digests live in a persisted KV domain; an ingestion batch (20% re-ingests,
    a third of them with fresh text) is flagged new-vs-seen with broadcast
    joins — the history is scanned once, never shuffled. The oracle replays
    membership on raw text (digest equivalence, the q20 convention)."""
    from elephantdb_spark.operators.history import filter_against_history

    root = _dedup_history_root(spark, sf_dir)
    batch = _history_batch(_table(spark, sf_dir, "documents"))
    return (
        filter_against_history(spark, batch, root, ["text"])
        .select("doc_id", "is_new")
        .orderBy("doc_id")
    )


#: q104 signature parameters (md5 mode so the DuckDB oracle can replay
#: the hashes); threshold 0.7 ≈ "flag at estimated Jaccard ≥ 0.7".
_ND_NUM_PERM, _ND_BANDS, _ND_SHINGLE_LEN = 32, 8, 3
_ND_THRESHOLD = 0.7
_ND_MAX_BUCKET = 32


def _neardup_history_batch(docs: DataFrame) -> DataFrame:
    """Four deterministic ingest classes: %10==0 exact re-ingest, %10==5
    near-dup (tail append), %10==3 novel vocabulary, %10==7 too short to
    shingle (no signature)."""
    did = F.col("doc_id")
    return docs.filter((did % 10).isin(0, 3, 5, 7)).select(
        (did + _HISTORY_BATCH_ID_SHIFT).alias("doc_id"),
        F.when(did % 10 == 0, F.col("text"))
        .when(
            did % 10 == 5,
            F.concat(
                F.col("text"), F.lit(" trailing fresh tokens appended here now")
            ),
        )
        .when(
            did % 10 == 3,
            F.concat(
                F.lit("quux"),
                did.cast("string"),
                F.lit(" glorp zephyr wibble flume brox "),
                F.repeat(
                    F.concat(F.lit("mk"), did.cast("string"), F.lit(" ")), 6
                ),
            ),
        )
        .otherwise(F.lit("one two"))
        .alias("text"),
    )


_ND_HISTORY_BATCH_SQL = (
    f"SELECT doc_id + {_HISTORY_BATCH_ID_SHIFT} AS doc_id, "
    "CASE WHEN doc_id % 10 = 0 THEN text "
    "WHEN doc_id % 10 = 5 THEN text || ' trailing fresh tokens appended here now' "
    "WHEN doc_id % 10 = 3 THEN 'quux' || CAST(doc_id AS VARCHAR) || "
    "' glorp zephyr wibble flume brox ' || "
    "repeat('mk' || CAST(doc_id AS VARCHAR) || ' ', 6) "
    "ELSE 'one two' END AS text "
    "FROM documents WHERE doc_id % 10 IN (0, 3, 5, 7)"
)


def _neardup_history_root(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-per-process MinHash signature history over the documents
    corpus (the q104 fixture — same shape as _dedup_history_root)."""
    from elephantdb_spark.operators.neardup_history import build_neardup_history
    from elephantdb_spark.spec import DomainSpec

    sf_dir = os.path.abspath(sf_dir)
    key = f"neardup_history::{sf_dir}"
    cached = _INDEX_ROOTS.get(key)
    if cached is not None:
        return cached
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"edb_nd_hist_{tag}_{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)  # pid-reuse leftovers
    root = os.path.join(base, "minhash")
    docs = _table(spark, sf_dir, "documents")
    build_neardup_history(
        spark, docs, root, "doc_id", "text",
        num_perm=_ND_NUM_PERM, bands=_ND_BANDS, shingle_len=_ND_SHINGLE_LEN,
        hash_fn="md5", max_bucket=_ND_MAX_BUCKET,
        spec=DomainSpec(num_shards=8), version=1,
    )
    _INDEX_ROOTS[key] = root
    return root


def q104_neardup_vs_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup (operators/neardup_history): the corpus's
    MinHash signatures live in a persisted domain pair (band index + full
    signatures); an ingestion batch is flagged by two bulk_joins — band
    match then signature-agreement scoring (the Broder Jaccard estimate).
    History text is never stored or read; the oracle replays signatures,
    banding, member-bucket formation (min-k truncation), and the
    estimator stage-for-stage in SQL (md5 hash mode, the q29
    convention)."""
    from elephantdb_spark.operators.neardup_history import (
        filter_against_neardup_history,
    )

    root = _neardup_history_root(spark, sf_dir)
    batch = _neardup_history_batch(_table(spark, sf_dir, "documents"))
    return (
        # cache_sigs=False: cheaper than the pin (see its docs)
        filter_against_neardup_history(
            spark, batch, root, "doc_id", "text",
            threshold=_ND_THRESHOLD, cache_sigs=False,
        )
        .select(
            "doc_id",
            "is_neardup",
            "match_id",
            F.round(F.col("est_jaccard"), 6).alias("est_j6"),
        )
        .orderBy("doc_id")
    )


def _q104_oracle_sql() -> str:
    """Stage-for-stage SQL replay of q104: md5-mode signatures over history
    and batch, band-vector matching against EVERY stored bucket member
    (the max_bucket string-smallest ids per band key — ADVICE r6),
    component-agreement estimate, best-match selection (est DESC, string
    id ASC), threshold flag."""
    n, bands = _ND_NUM_PERM, _ND_BANDS
    rpb = n // bands
    mins = ", ".join(
        f"MIN({_md5_long_sql('shingle', i)}) AS mh{i}" for i in range(n)
    )

    def band_rows(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc, {b} AS band, "
            + " || ',' || ".join(
                f"CAST(mh{b * rpb + r} AS VARCHAR)" for r in range(rpb)
            )
            + f" AS bk FROM {src}"
            for b in range(bands)
        )

    agree = " + ".join(
        f"(CASE WHEN b.mh{i} = h.mh{i} THEN 1 ELSE 0 END)" for i in range(n)
    )
    return (
        f"WITH batch AS ({_ND_HISTORY_BATCH_SQL}), "
        f"hsh AS (SELECT doc_id AS doc, unnest({_SHINGLES_EXPR}) AS shingle FROM documents), "
        f"bsh AS (SELECT doc_id AS doc, unnest({_SHINGLES_EXPR}) AS shingle FROM batch), "
        f"hsig AS (SELECT doc, {mins} FROM hsh GROUP BY doc), "
        f"bsig AS (SELECT doc, {mins} FROM bsh GROUP BY doc), "
        f"hbands AS ({band_rows('hsig')}), "
        f"bbands AS ({band_rows('bsig')}), "
        "hmem AS (SELECT band, bk, doc, row_number() OVER ("
        "  PARTITION BY band, bk ORDER BY CAST(doc AS VARCHAR)) AS rn "
        "  FROM hbands), "
        "cand AS (SELECT DISTINCT bb.doc, m.doc AS member FROM bbands bb "
        "         JOIN hmem m ON m.band = bb.band AND m.bk = bb.bk "
        f"         AND m.rn <= {_ND_MAX_BUCKET}), "
        "scored AS (SELECT c.doc, c.member, "
        f"  CAST(({agree}) AS DOUBLE) / {n} AS est "
        "  FROM cand c JOIN bsig b ON b.doc = c.doc JOIN hsig h ON h.doc = c.member), "
        "best AS (SELECT doc, CAST(member AS VARCHAR) AS match_id, est, "
        "  row_number() OVER (PARTITION BY doc "
        "    ORDER BY est DESC, CAST(member AS VARCHAR) ASC) AS rk "
        f"  FROM scored WHERE est >= {_ND_THRESHOLD}) "
        "SELECT bt.doc_id, b.match_id IS NOT NULL AS is_neardup, b.match_id, "
        "  round(b.est, 6) AS est_j6 "
        "FROM batch bt LEFT JOIN (SELECT * FROM best WHERE rk = 1) b "
        "  ON b.doc = bt.doc_id "
        "ORDER BY bt.doc_id"
    )


BM25_K = 10
BM25_K1 = 1.2
BM25_B = 0.75
BM25_SCALE = 1_000_000

#: Probe queries over the synthetic corpus vocabulary; 'shuffle' and
#: 'pipeline' appear in no document, exercising the unmatched-token path.
_BM25_QUERIES = [
    (1, "spark shuffle join window"),
    (2, "hash table scan"),
    (3, "stream batch data pipeline"),
    (4, "vector merge sort"),
]


def q79_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/retrieval.bm25_topk) in rational-IDF
    mode — fixed-point term sums make the score bit-exact cross-engine, so
    the DuckDB oracle replays the full ranking including the score column.
    The lucene (ln) IDF mode is rank-identical per term and covered by
    pytest against this mode."""
    docs = _table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id int, query_text string")
    return bm25_topk(
        docs,
        qdf,
        "doc_id",
        "text",
        k=BM25_K,
        k1=BM25_K1,
        b=BM25_B,
        idf="rational",
        score_scale=BM25_SCALE,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Curation stage operators (operators/curation): normalize / quality-rule
# filter / per-source caps / vocab + encoding, and the end-to-end pipeline.
# ---------------------------------------------------------------------------

#: q81 fixture: the synthetic corpus is already clean, so the query first
#: dirties it deterministically (tab runs, CRLF/CR, a BEL control char,
#: trailing junk) with string ops both engines replay, then normalizes.
_MESSY_SUFFIX = " \r\n\x07\r\n\r\nend \r"


def _messy_text(text):
    return F.concat(
        F.lit(" \t"),
        F.regexp_replace(text, " ", "\t \t"),
        F.lit(_MESSY_SUFFIX),
    )


def q81_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text normalization (operators/curation.NORMALIZATION_STEPS
    — ordered regex rewrites in the Java-regex ∩ RE2 dialect, so the DuckDB
    oracle replays them verbatim via duckdb_normalize_sql)."""
    from elephantdb_spark.operators.curation import normalize_text_col

    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalize_text_col(_messy_text(F.col("text"))).alias("text_norm"),
    ).orderBy("doc_id")


def _skewed_sources(docs: DataFrame) -> DataFrame:
    """q82 fixture: fold every even doc into one hot 'big' source (~50% of
    the corpus) so the cap exercises both the pass-through (under-cap) and
    the threshold-thinned rank (over-cap) paths."""
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("big"))
        .otherwise(F.col("source"))
        .alias("source"),
    )


def q82_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps (operators/curation.cap_per_source): at most
    15 docs per source by deterministic (md5, id) order. The plan thins hot
    sources by hash threshold before ranking (the 100 TB shape); the oracle
    is the plain ROW_NUMBER formulation the semantics promise."""
    from elephantdb_spark.operators.curation import cap_per_source

    docs = _skewed_sources(_table(spark, sf_dir, "documents"))
    # materialize_input pins the scan+skew-fold projection once instead
    # of re-executing it from each of the cap
    # machinery's four consumer subtrees (r19; see cap_per_source docs).
    return cap_per_source(
        docs, "doc_id", "source", cap=15, salt="cap", materialize_input=True
    ).orderBy("doc_id")


VOCAB_MIN_COUNT = 2
VOCAB_MAX_SIZE = 50


def q83_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency vocabulary with dense deterministic ids
    (operators/curation.build_vocab): one count shuffle, id assignment by
    (count DESC, token ASC) over the Zipf-bounded vocabulary."""
    from elephantdb_spark.operators.curation import build_vocab

    docs = _table(spark, sf_dir, "documents")
    return build_vocab(
        docs, "text", min_count=VOCAB_MIN_COUNT, max_size=VOCAB_MAX_SIZE
    ).orderBy("token_id")


def q84_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → token-id stream (operators/curation.encode_documents):
    posexplode + broadcast vocabulary join, OOV → 0. Encodes the doc_id<100
    slice against the full-corpus vocabulary."""
    from elephantdb_spark.operators.curation import build_vocab, encode_documents

    docs = _table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", min_count=VOCAB_MIN_COUNT, max_size=VOCAB_MAX_SIZE)
    sample = docs.filter(F.col("doc_id") < 100)
    return encode_documents(sample, "doc_id", "text", vocab).orderBy("doc_id", "pos")


def q85_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules (operators/curation.gopher_filter): named
    per-rule booleans + kept verdict, all scan-stage array expressions."""
    from elephantdb_spark.operators.curation import gopher_filter

    docs = _table(spark, sf_dir, "documents")
    return gopher_filter(docs, "doc_id", "text").orderBy("doc_id")


CURATION_CAP = 10
CURATION_SPLITS = {"train": 0.9, "val": 0.1}


def q86_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: normalize → gopher quality gate → exact dedup
    (smallest doc_id per normalized text, digest-grouped) → per-source cap →
    deterministic train/val split. Every stage is an engine operator; the
    oracle replays the whole DAG as one CTE chain — the flagship
    hash-checked training-data pipeline."""
    from elephantdb_spark.operators.curation import (
        cap_per_source,
        gopher_filter,
        normalize_text,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    # Pin each corpus-sized stage once (r18, guide §3.3/§5): DataFrame
    # references do not share subtrees, so the multi-branch consumers
    # downstream (gopher verdict join, dedup survivor join,
    # cap_per_source's count/flag/fallback branches) replicated the
    # normalize+tokenize lineage into ~48 separate corpus scans
    # (plans/r18/q86_curation_pipeline_before.txt; 28 sort-merge joins).
    # Pinning truncates the plan at each stage — the corpus
    # is normalized and tokenized exactly once — measured 5.2 s → 3.0 s
    # warm / 21 s → 7 s first-run at sf0.1, identical output. This is
    # intra-query materialization computed during the run, not cross-run
    # result caching.
    norm = pin(normalize_text(docs, "text", out_col="text_norm").drop("text"))
    verdicts = gopher_filter(norm, "doc_id", "text_norm")
    kept = pin(
        norm.join(verdicts.filter(F.col("kept")).select("doc_id"), "doc_id")
    )
    keep_ids = exact_dedup(kept, ["text_norm"], "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    uniq = pin(kept.join(keep_ids, "doc_id"))
    capped = cap_per_source(uniq, "doc_id", "source", cap=CURATION_CAP, salt="cur")
    out = split_corpus(capped, "doc_id", CURATION_SPLITS, salt="curspl")
    return out.select("doc_id", "source", "split").orderBy("doc_id")


EXT_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q79_bm25_search": q79_bm25_search,
    "q81_normalize_text": q81_normalize_text,
    "q82_cap_per_source": q82_cap_per_source,
    "q83_build_vocab": q83_build_vocab,
    "q84_encode_documents": q84_encode_documents,
    "q85_gopher_filter": q85_gopher_filter,
    "q86_curation_pipeline": q86_curation_pipeline,
    "q80_dedup_against_history": q80_dedup_against_history,
    "q104_neardup_vs_history": q104_neardup_vs_history,
    "q20_exact_dedup": q20_exact_dedup,
    "q21_token_count": q21_token_count,
    "q22_quality_score": q22_quality_score,
    "q23_lang_id": q23_lang_id,
    "q24_fingerprint": q24_fingerprint,
    "q25_jaccard_neardup": q25_jaccard_neardup,
    "q26_cosine_topk": q26_cosine_topk,
    "q27_embedding_neardup": q27_embedding_neardup,
    "q28_multimodal_features": q28_multimodal_features,
    "q16_ann_lsh_exact_mode": q16_ann_lsh_exact_mode,
    "q17_ann_ivf_exact_mode": q17_ann_ivf_exact_mode,
    "q18_deterministic_sample": q18_deterministic_sample,
    "q19_stratified_sample": q19_stratified_sample,
    "q56_sequence_packing": q56_sequence_packing,
    "q78_shuffled_export": q78_shuffled_export,
    "q57_repetition_profile": q57_repetition_profile,
    "q58_contamination_hits": q58_contamination_hits,
    "q59_corpus_split": q59_corpus_split,
    "q60_tfidf_topk": q60_tfidf_topk,
    "q61_mix_corpus": q61_mix_corpus,
    "q62_train_bigram_lm": q62_train_bigram_lm,
    "q63_chunk_documents": q63_chunk_documents,
    "q64_redact_pii": q64_redact_pii,
    "q65_neardup_components": q65_neardup_components,
    "q67_inverted_index": q67_inverted_index,
    "q68_label_centroids": q68_label_centroids,
    "q69_corpus_stats": q69_corpus_stats,
    "q70_corpus_diff": q70_corpus_diff,
    "q71_hot_shingle_report": q71_hot_shingle_report,
    "q73_strip_duplicate_lines": q73_strip_duplicate_lines,
    "q74_cluster_size_report": q74_cluster_size_report,
    "q75_profile_table": q75_profile_table,
    "q76_wav_decode_features": q76_wav_decode_features,
    "q77_ann_index_probe": q77_ann_index_probe,
    "q29_minhash_lsh_neardup": q29_minhash_lsh_neardup,
    "q30_simhash_neardup": q30_simhash_neardup,
    "q31_ann_lsh_topk": q31_ann_lsh_topk,
    "q35_ann_ivf_topk": q35_ann_ivf_topk,
    "q45_knn_join": q45_knn_join,
    "q90_index_knn_join": q90_index_knn_join,
    "q91_repeated_span_profile": q91_repeated_span_profile,
    "q92_png_decode_features": q92_png_decode_features,
    "q93_mp4_container_metadata": q93_mp4_container_metadata,
    "q94_jpeg_decode_features": q94_jpeg_decode_features,
    "q95_gif_frame_sampling": q95_gif_frame_sampling,
    "q99_avi_frame_sampling": q99_avi_frame_sampling,
    "q96_html_text_extraction": q96_html_text_extraction,
    "q97_warc_crawl_ingest": q97_warc_crawl_ingest,
    "q98_url_normalization": q98_url_normalization,
    "q46_subword_count": q46_subword_count,
    "q50_clean_corpus": q50_clean_corpus,
    "q101_bpe_pair_counts": q101_bpe_pair_counts,
    "q102_bpe_encode": q102_bpe_encode,
}


# ---------------------------------------------------------------------------
# SQL oracles
# ---------------------------------------------------------------------------

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

_STOPLIST = ", ".join(f"'{s}'" for s in DEFAULT_STOPWORDS)

_TOKEN_COUNT_EXPR = (
    "CASE WHEN length(trim(text)) = 0 THEN 0 "
    f"ELSE len({_TOKS}) END"
)


def _fold_sum(items: str) -> str:
    """Strict left fold sum (bit-identical to Spark's F.aggregate)."""
    return f"list_reduce(list_prepend(CAST(0 AS BIGINT), {items}), (acc, x) -> acc + x)"


def _fold_sum_double(items: str) -> str:
    return f"list_reduce(list_prepend(0.0, {items}), (acc, x) -> acc + x)"


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    return _fold_sum_double(
        f"list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    )


_FP_EXPR = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(1, length(text)), "
    "i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))), "
    f"(acc, c) -> (acc * {FINGERPRINT_BASE} + c) % {FINGERPRINT_MOD})"
)

_SHINGLES_EXPR = (
    f"CASE WHEN len({_TOKS}) < 3 THEN CAST([] AS VARCHAR[]) "
    f"ELSE list_distinct(list_transform(generate_series(1, len({_TOKS}) - 2), "
    f"i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])) END"
)

_MARKED_TEXT_SQL = (
    "(CASE "
    + " ".join(
        f"WHEN lang = '{lang}' THEN '{(p * _PREFIX_REPEAT)}'"
        for lang, p in _LANG_PREFIX.items()
    )
    + " ELSE '' END) || text"
)


def _lang_id_sql(text_expr: str) -> str:
    toks = f"regexp_split_to_array(trim({text_expr}), '\\s+')"
    scores = {
        lang: (
            f"len(list_filter({toks}, t -> list_contains("
            f"[{', '.join(repr(w.lower()) for w in words)}], lower(t))))"
        )
        for lang, words in DEFAULT_LANG_MARKERS.items()
    }
    best = f"greatest({', '.join(scores.values())})"
    whens = " ".join(
        f"WHEN {scores[lang]} = {best} AND {best} > 0 THEN '{lang}'"
        for lang in sorted(scores)
    )
    return f"(CASE {whens} ELSE 'und' END)"


def _md5_long_sql(expr: str, seed: int | None = None) -> str:
    """DuckDB twin of operators.dedup._md5_long_col: signed int64 from the
    md5 high half (parity-tested in tests/test_operators.py)."""
    s = f"({expr} || ':{seed}')" if seed is not None else expr
    u = f"CAST(('0x' || substr(md5({s}),1,16)) AS UBIGINT)"
    return (
        f"CAST(CASE WHEN {u} >= CAST('9223372036854775808' AS UHUGEINT) "
        f"THEN CAST({u} AS HUGEINT) - CAST('18446744073709551616' AS HUGEINT) "
        f"ELSE CAST({u} AS HUGEINT) END AS BIGINT)"
    )


def _q29_oracle_sql(num_perm: int = 32, bands: int = 8) -> str:
    """Full MinHash-LSH replica in SQL: md5-mode signatures, band-vector
    candidate equality, hot-shingle guard, exact-Jaccard verify with
    unfiltered-size denominators — stage-for-stage the Spark plan."""
    rpb = num_perm // bands
    mins = ", ".join(
        f"MIN({_md5_long_sql('shingle', i)}) AS mh{i}" for i in range(num_perm)
    )
    band_eq = " OR ".join(
        "("
        + " AND ".join(
            f"l.mh{b * rpb + r} = r.mh{b * rpb + r}" for r in range(rpb)
        )
        + ")"
        for b in range(bands)
    )
    return (
        f"WITH corpus AS ({_NEARDUP_CORPUS_SQL}), "
        f"sh AS (SELECT doc_id AS doc, unnest({_SHINGLES_EXPR}) AS shingle FROM corpus), "
        "sz AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc), "
        "shf AS (SELECT doc, shingle FROM sh WHERE shingle NOT IN ("
        f"  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {DEFAULT_MAX_SHINGLE_FREQ})), "
        f"sig AS (SELECT doc, {mins} FROM shf GROUP BY doc), "
        f"cand AS (SELECT l.doc AS a, r.doc AS b FROM sig l JOIN sig r "
        f"         ON l.doc < r.doc AND ({band_eq})), "
        "inter AS (SELECT l.doc AS a, r.doc AS b, COUNT(*) AS inter "
        "          FROM shf l JOIN shf r USING (shingle) WHERE l.doc < r.doc "
        "          GROUP BY l.doc, r.doc) "
        "SELECT a, b, round(j, 6) AS jaccard FROM ("
        "  SELECT c.a, c.b, CAST(i.inter AS DOUBLE) / "
        "    CAST(sza.sz + szb.sz - i.inter AS DOUBLE) AS j "
        "  FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b "
        "  JOIN sz sza ON sza.doc = c.a JOIN sz szb ON szb.doc = c.b) "
        f"WHERE j >= {JACCARD_THRESHOLD} ORDER BY a, b"
    )


def _q31_oracle_sql(
    n_bits: int = 8, max_hamming: int = 2, k: int = 10,
    dim: int = 64, seed: int = 42,
) -> str:
    """Full hyperplane-LSH replica in SQL (q31 fold mode): the seeded
    planes are data-independent constants, inlined as list literals;
    bucket bits are signs of the SAME left-fold dot products the Spark
    side computes, so bucketing, the hamming-ring filter, and the exact
    cosine re-rank all replay bit-identically."""
    planes = hyperplanes(dim, n_bits, seed)

    def arr(p) -> str:
        # repr() round-trips float64 exactly; DuckDB parses shortest-repr
        # decimal strings to the identical double
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    def bucket(vec: str) -> str:
        return "(" + " + ".join(
            f"(CASE WHEN {_dot_sql(vec, arr(planes[i]), dim)} > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(n_bits)
        ) + ")"

    return (
        "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
        f"qb AS (SELECT {bucket('qv')} AS qbucket FROM q), "
        f"b AS (SELECT vec_id, embedding, {bucket('embedding')} AS bucket "
        "   FROM embeddings WHERE vec_id != 0), "
        "cand AS (SELECT b.vec_id, b.embedding FROM b, qb "
        "   WHERE bit_count(xor(CAST(b.bucket AS BIGINT), "
        f"         CAST(qb.qbucket AS BIGINT))) <= {max_hamming}) "
        "SELECT vec_id, round(sim_raw, 6) AS sim FROM ("
        f"  SELECT c.vec_id, {_dot_sql('c.embedding', 'q.qv')} / "
        f"    (sqrt({_dot_sql('c.embedding', 'c.embedding')}) * "
        f"     sqrt({_dot_sql('q.qv', 'q.qv')})) AS sim_raw "
        "  FROM cand c, q) "
        f"ORDER BY sim_raw DESC, vec_id ASC LIMIT {k}"
    )


def _q30_oracle_sql(max_hamming: int = 3) -> str:
    """SimHash replica in SQL. With bands=4 and max_hamming=3 the banded
    candidate stage is pigeonhole-EXACT (<= bands-1 differing bits always
    leave one band equal), so the oracle needs no banding: every pair
    with hamming <= max_hamming, fingerprints from md5-mode bit sums."""
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(64)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN "
        + (str(2**i) if i < 63 else "CAST('-9223372036854775808' AS BIGINT)")
        + " ELSE 0 END)"
        for i in range(64)
    )
    toks1 = (
        "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_distinct({_TOKS}) END"
    )
    return (
        f"WITH corpus AS ({_NEARDUP_CORPUS_SQL}), "
        f"tok AS (SELECT doc_id AS doc, unnest({toks1}) AS shingle FROM corpus), "
        f"h AS (SELECT doc, {_md5_long_sql('shingle')} AS h FROM tok), "
        f"bits AS (SELECT doc, {sums} FROM h GROUP BY doc), "
        f"fp AS (SELECT doc, {fp_terms} AS simhash FROM bits) "
        "SELECT l.doc AS a, r.doc AS b, "
        "  CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming "
        "FROM fp l JOIN fp r ON l.doc < r.doc "
        f"WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming} "
        "ORDER BY a, b"
    )


def _q75_oracle_sql() -> str:
    parts = []
    for c in PROFILE_COLS:
        parts.append(
            f"SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"CAST(MIN({c}) AS VARCHAR) AS min_val, "
            f"CAST(MAX({c}) AS VARCHAR) AS max_val FROM documents"
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


def _q79_oracle_sql() -> str:
    """Full BM25 replay: same tokenizer, same rational IDF, same
    fixed-point floor — every float op is +,-,*,/ on integer-derived
    doubles with the identical association order as the Spark expression
    in retrieval.bm25_topk, so score_fp is bit-equal, not just close.
    Constants are injected via repr() from the SAME Python floats the
    Spark plan uses (k1+1 computed once, here, for both engines)."""
    values = ", ".join(f"({qid}, '{qt}')" for qid, qt in _BM25_QUERIES)
    k1, b, k1p1 = repr(BM25_K1), repr(BM25_B), repr(BM25_K1 + 1.0)
    scale = repr(float(BM25_SCALE))
    idf = "((CAST(n_docs AS DOUBLE) - CAST(dfc AS DOUBLE) + 0.5) / (CAST(dfc AS DOUBLE) + 0.5))"
    avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    tfn = (
        f"((CAST(tf AS DOUBLE) * {k1p1}) / (CAST(tf AS DOUBLE) + {k1} * "
        f"(1.0 - {b} + {b} * CAST(dl AS DOUBLE) / {avgdl})))"
    )
    return (
        f"WITH q(query_id, query_text) AS (VALUES {values}), "
        "qt0 AS (SELECT query_id, "
        "  unnest(regexp_split_to_array(trim(query_text), '\\s+')) AS tok FROM q), "
        "qt AS (SELECT DISTINCT query_id, lower(tok) AS token FROM qt0), "
        f"toksrc AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 "
        f"  THEN CAST([] AS VARCHAR[]) ELSE {_TOKS} END AS toks FROM documents), "
        "stats AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS total_dl FROM toksrc), "
        "dt0 AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM toksrc), "
        "dt AS (SELECT doc_id, dl, lower(tok) AS token FROM dt0), "
        "tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM dt "
        "  WHERE token IN (SELECT token FROM qt) GROUP BY doc_id, dl, token), "
        "dfc AS (SELECT token, COUNT(*) AS dfc FROM tf GROUP BY token), "
        "scored AS (SELECT qt.query_id, tf.doc_id, "
        f"  CAST(FLOOR({idf} * {tfn} * {scale}) AS BIGINT) AS fp "
        "  FROM tf JOIN dfc USING (token) JOIN qt USING (token) CROSS JOIN stats), "
        "agg AS (SELECT query_id, doc_id, SUM(fp) AS score_fp FROM scored "
        "  GROUP BY query_id, doc_id), "
        "ranked AS (SELECT query_id, doc_id, score_fp, "
        "  ROW_NUMBER() OVER (PARTITION BY query_id "
        "    ORDER BY score_fp DESC, doc_id) AS rk FROM agg) "
        'SELECT query_id, CAST(rk AS INTEGER) AS "rank", doc_id, '
        f"  CAST(score_fp AS DOUBLE) / {scale} AS score "
        f"FROM ranked WHERE rk <= {BM25_K} ORDER BY query_id, rk"
    )


# --- curation oracles (q81-q86) --------------------------------------------

def _sql_chr_str(s: str) -> str:
    """A DuckDB string expression for ``s``, spelling control chars and
    quotes as chr(n) concatenations (DuckDB literals have no escapes)."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        if ord(ch) < 32 or ord(ch) == 127 or ch == "'":
            if buf:
                parts.append(f"'{buf}'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
        else:
            buf += ch
    if buf:
        parts.append(f"'{buf}'")
    return "(" + " || ".join(parts) + ")" if parts else "''"


def _curation_sql_parts() -> dict[str, str]:
    from elephantdb_spark.operators.curation import (
        GOPHER_DEFAULTS,
        duckdb_normalize_sql,
    )

    prefix_sql = _sql_chr_str(" \t")
    suffix_sql = _sql_chr_str(_MESSY_SUFFIX)
    messy = (
        f"({prefix_sql} || "
        "regexp_replace(text, ' ', chr(9) || ' ' || chr(9), 'g') || "
        f"{suffix_sql})"
    )

    def ctoks(expr: str) -> str:
        return (
            f"list_filter(regexp_split_to_array(trim(coalesce({expr}, ''))"
            ", '\\s+'), t -> t <> '')"
        )

    g = GOPHER_DEFAULTS

    def gopher_measures(toks: str) -> str:
        """The m-CTE body: per-doc counts feeding the rule booleans."""
        return (
            f"len({toks}) AS n, "
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform({toks}, x -> CAST(length(x) AS BIGINT))), "
            "(a, b) -> a + b) AS total_len, "
            f"len(list_filter({toks}, x -> starts_with(x, '#') OR "
            "contains(x, '...'))) AS n_sym, "
            f"len(list_filter({toks}, x -> regexp_matches(x, '[A-Za-z]')))"
            " AS n_alpha, "
            f"len(list_filter({toks}, x -> lower(x) IN ({_STOPLIST})))"
            " AS n_stop"
        )

    rules = {
        "rule_word_count": f"(n >= {g['min_words']} AND n <= {g['max_words']})",
        "rule_mean_word_len": (
            f"(CASE WHEN n > 0 THEN (total_len / n >= {g['min_mean_word_len']}"
            f" AND total_len / n <= {g['max_mean_word_len']}) ELSE FALSE END)"
        ),
        "rule_symbol_ratio": (
            "(CASE WHEN n > 0 THEN (CAST(n_sym AS DOUBLE) / n <= "
            f"{g['max_symbol_ratio']}) ELSE FALSE END)"
        ),
        "rule_alpha_words": (
            "(CASE WHEN n > 0 THEN (CAST(n_alpha AS DOUBLE) / n >= "
            f"{g['min_alpha_word_ratio']}) ELSE FALSE END)"
        ),
        "rule_stopwords": f"(n_stop >= {g['min_stopword_hits']})",
    }
    kept = " AND ".join(rules.values())
    vocab_cte = (
        "c AS (SELECT token, COUNT(*) AS count FROM "
        f"(SELECT unnest({ctoks('text')}) AS token FROM documents) "
        f"GROUP BY token HAVING COUNT(*) >= {VOCAB_MIN_COUNT}), "
        "v AS (SELECT token, count, ROW_NUMBER() OVER (ORDER BY count DESC, "
        "token ASC) AS token_id FROM c ORDER BY count DESC, token ASC "
        f"LIMIT {VOCAB_MAX_SIZE})"
    )
    return {
        "messy": messy,
        "norm_messy": duckdb_normalize_sql(messy),
        "norm_text": duckdb_normalize_sql("text"),
        "ctoks": ctoks,
        "gopher_measures": gopher_measures,
        "rules": rules,
        "kept": kept,
        "vocab_cte": vocab_cte,
    }


_CUR = _curation_sql_parts()

_Q85_ORACLE = (
    f"WITH t AS (SELECT doc_id, {_CUR['ctoks']('text')} AS toks FROM documents), "
    f"m AS (SELECT doc_id, {_CUR['gopher_measures']('toks')} FROM t) "
    "SELECT doc_id, CAST(n AS INTEGER) AS n_words, "
    + ", ".join(f"{expr} AS {name}" for name, expr in _CUR["rules"].items())
    + f", ({_CUR['kept']}) AS kept FROM m ORDER BY doc_id"
)

_Q86_ORACLE = (
    f"WITH norm AS (SELECT doc_id, source, {_CUR['norm_text']} AS text_norm "
    "FROM documents), "
    f"t AS (SELECT doc_id, source, text_norm, {_CUR['ctoks']('text_norm')} "
    "AS toks FROM norm), "
    f"m AS (SELECT doc_id, source, text_norm, {_CUR['gopher_measures']('toks')} FROM t), "
    f"k AS (SELECT doc_id, source, text_norm FROM m WHERE {_CUR['kept']}), "
    "ded AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY "
    "text_norm ORDER BY doc_id) AS rn FROM k), "
    "u AS (SELECT doc_id, source FROM ded WHERE rn = 1), "
    "c AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source "
    f"ORDER BY {duckdb_md5_u32_sql('doc_id', 'cur')}, doc_id) AS rk FROM u) "
    "SELECT doc_id, source, CASE WHEN "
    f"{duckdb_md5_u32_sql('doc_id', 'curspl')} < "
    f"{int(CURATION_SPLITS['train'] * (1 << 32))} THEN 'train' ELSE 'val' "
    f"END AS split FROM c WHERE rk <= {CURATION_CAP} ORDER BY doc_id"
)


def _q98_oracle_sql() -> str:
    from elephantdb_spark.functions.url import (
        duckdb_host_sql,
        duckdb_normalize_url_sql,
    )

    messy = (
        "CASE WHEN doc_id % 2 = 0 THEN "
        "'HTTPS://Www.Site' || CAST(doc_id AS VARCHAR) || '.ORG:443/' "
        "ELSE 'HTTP://User@Ex' || CAST(doc_id % 5 AS VARCHAR) || "
        "'.COM:80/Path/' || CAST(doc_id AS VARCHAR) || "
        "CASE doc_id % 3 WHEN 0 THEN '#Frag' WHEN 1 THEN '?' "
        "ELSE '?q=1' END END"
    )
    return (
        f"WITH u AS (SELECT doc_id, {messy} AS url FROM documents) "
        f"SELECT doc_id, {duckdb_normalize_url_sql('url')} AS url_norm, "
        f"{duckdb_host_sql('url')} AS host FROM u ORDER BY doc_id"
    )


EXT_ORACLES: dict[str, str] = {
    "q79_bm25_search": _q79_oracle_sql(),
    "q81_normalize_text": (
        f"SELECT doc_id, {_CUR['norm_messy']} AS text_norm "
        "FROM documents ORDER BY doc_id"
    ),
    "q82_cap_per_source": (
        "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'big' "
        "ELSE source END AS source FROM documents), "
        "r AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source "
        f"ORDER BY {duckdb_md5_u32_sql('doc_id', 'cap')}, doc_id) AS rk FROM d) "
        "SELECT doc_id, source FROM r WHERE rk <= 15 ORDER BY doc_id"
    ),
    "q83_build_vocab": (
        f"WITH {_CUR['vocab_cte']} "
        "SELECT token, CAST(token_id AS INTEGER) AS token_id, count FROM v "
        "ORDER BY token_id"
    ),
    "q84_encode_documents": (
        f"WITH tk AS (SELECT doc_id, {_CUR['ctoks']('text')} AS toks "
        "FROM documents WHERE doc_id < 100), "
        "flat AS (SELECT doc_id, unnest(list_transform(generate_series(1, "
        "len(toks)), i -> {'pos': i - 1, 'token': toks[i]})) AS u FROM tk), "
        f"{_CUR['vocab_cte']} "
        "SELECT f.doc_id, CAST(struct_extract(f.u, 'pos') AS INTEGER) AS pos, "
        "CAST(COALESCE(v.token_id, 0) AS INTEGER) AS token_id "
        "FROM flat f LEFT JOIN v ON v.token = struct_extract(f.u, 'token') "
        "ORDER BY doc_id, pos"
    ),
    "q85_gopher_filter": _Q85_ORACLE,
    "q86_curation_pipeline": _Q86_ORACLE,
    "q80_dedup_against_history": (
        # membership replayed on raw text — digest-equivalence convention
        # established by q20 (xxhash128 collision-free at corpus scale)
        f"WITH batch AS ({_HISTORY_BATCH_SQL}) "
        "SELECT b.doc_id, NOT EXISTS("
        "  SELECT 1 FROM documents d WHERE d.text = b.text) AS is_new "
        "FROM batch b ORDER BY b.doc_id"
    ),
    "q29_minhash_lsh_neardup": _q29_oracle_sql(),
    "q104_neardup_vs_history": _q104_oracle_sql(),
    "q30_simhash_neardup": _q30_oracle_sql(),
    "q31_ann_lsh_topk": _q31_oracle_sql(),
    # q35: centroids are data-dependent (no static SQL replay); the query
    # emits deterministic guarantee booleans — see q35_ann_ivf_topk
    "q35_ann_ivf_topk": (
        "SELECT true AS n_le_k, true AS kth_bounded_by_exact, "
        "true AS recall_ok"
    ),
    "q75_profile_table": _q75_oracle_sql(),
    "q76_wav_decode_features": (
        "SELECT doc_id AS id, CAST(1 AS BIGINT) AS n_channels, "
        f"CAST({WAV_RATE} AS BIGINT) AS sample_rate, "
        f"CAST((n_chars * 1000) // {WAV_RATE} AS BIGINT) AS duration_ms "
        "FROM documents ORDER BY id"
    ),
    "q20_exact_dedup": (
        f"WITH corpus AS ({_DUP_CORPUS_SQL}) "
        "SELECT md5(text) AS grp, MIN(doc_id) AS keep_id, "
        "COUNT(*) AS n_dups FROM corpus GROUP BY text ORDER BY grp"
    ),
    "q21_token_count": (
        f"SELECT doc_id, CAST({_TOKEN_COUNT_EXPR} AS BIGINT) AS n_tokens "
        "FROM documents ORDER BY doc_id"
    ),
    "q22_quality_score": (
        "WITH t AS (SELECT doc_id, "
        f"  CAST({_TOKEN_COUNT_EXPR} AS BIGINT) AS n_tokens, "
        f"  {_TOKS} AS toks FROM documents) "
        "SELECT doc_id, n_tokens, "
        "  round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE "
        f"    CAST(len(list_filter(toks, t -> list_contains([{_STOPLIST}], lower(t)))) AS DOUBLE)"
        "     / CAST(n_tokens AS DOUBLE) END, 6) AS stop_ratio, "
        "  round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE "
        f"    CAST({_fold_sum('list_transform(toks, t -> CAST(length(t) AS BIGINT))')} AS DOUBLE)"
        "     / CAST(n_tokens AS DOUBLE) END, 6) AS avg_tok_len "
        "FROM t ORDER BY doc_id"
    ),
    "q23_lang_id": (
        f"SELECT doc_id, {_lang_id_sql(_MARKED_TEXT_SQL)} AS lang_pred "
        "FROM documents ORDER BY doc_id"
    ),
    "q24_fingerprint": (
        f"SELECT doc_id, {_FP_EXPR} AS fp FROM documents ORDER BY doc_id"
    ),
    "q25_jaccard_neardup": (
        # shf mirrors the Spark hot-shingle cut (DEFAULT_MAX_SHINGLE_FREQ)
        # on the intersection stage; sz stays unfiltered, matching
        # jaccard_shingle_pairs' lower-bound metric (ADVICE r3)
        f"WITH corpus AS ({_NEARDUP_CORPUS_SQL}), "
        f"sh AS (SELECT doc_id AS doc, unnest({_SHINGLES_EXPR}) AS shingle FROM corpus), "
        "sz AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc), "
        "shf AS (SELECT doc, shingle FROM sh WHERE shingle NOT IN ("
        f"  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {DEFAULT_MAX_SHINGLE_FREQ})), "
        "inter AS (SELECT l.doc AS a, r.doc AS b, COUNT(*) AS inter "
        "          FROM shf l JOIN shf r USING (shingle) WHERE l.doc < r.doc "
        "          GROUP BY l.doc, r.doc) "
        "SELECT a, b, round(j, 6) AS jaccard FROM ("
        "  SELECT a, b, CAST(inter AS DOUBLE) / CAST(sza.sz + szb.sz - inter AS DOUBLE) AS j "
        "  FROM inter JOIN sz sza ON sza.doc = a JOIN sz szb ON szb.doc = b) "
        f"WHERE j >= {JACCARD_THRESHOLD} ORDER BY a, b"
    ),
    "q26_cosine_topk": (
        "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
        "SELECT vec_id, round(sim_raw, 6) AS sim FROM ("
        f"  SELECT e.vec_id, {_dot_sql('e.embedding', 'q.qv')} / "
        f"    (sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql('q.qv', 'q.qv')})) AS sim_raw "
        "  FROM embeddings e, q WHERE e.vec_id != 0) "
        "ORDER BY sim_raw DESC, vec_id ASC LIMIT 10"
    ),
    "q27_embedding_neardup": (
        "SELECT a, b, round(sim_raw, 6) AS sim FROM ("
        f"  SELECT l.vec_id AS a, r.vec_id AS b, {_dot_sql('l.embedding', 'r.embedding')} / "
        f"    (sqrt({_dot_sql('l.embedding', 'l.embedding')}) * sqrt({_dot_sql('r.embedding', 'r.embedding')})) AS sim_raw "
        "  FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id) "
        f"WHERE sim_raw >= {COSINE_NEARDUP_THRESHOLD} ORDER BY a, b"
    ),
    "q28_multimodal_features": (
        "SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes, "
        "substr(md5(text), 1, 8) AS sig, 'text/plain' AS media_type "
        "FROM documents ORDER BY id"
    ),
    "q18_deterministic_sample": (
        "SELECT doc_id FROM documents "
        f"WHERE {duckdb_md5_u32_sql('doc_id', SAMPLE_SALT)} < "
        f"{int(SAMPLE_RATE * (1 << 32))} ORDER BY doc_id"
    ),
    "q78_shuffled_export": (
        "WITH h AS (SELECT doc_id, "
        f"{duckdb_md5_u32_sql('doc_id', SHUFFLE_SALT)} AS hv FROM documents) "
        f"SELECT doc_id, CAST(hv % {SHUFFLE_FILES} AS INT) AS file_id, "
        "CAST(ROW_NUMBER() OVER ("
        f"  PARTITION BY hv % {SHUFFLE_FILES} ORDER BY hv ASC, doc_id ASC"
        ") AS INT) AS pos "
        "FROM h ORDER BY file_id, pos"
    ),
    "q19_stratified_sample": (
        "SELECT doc_id, lang FROM ("
        "  SELECT doc_id, lang, ROW_NUMBER() OVER ("
        "    PARTITION BY lang "
        f"   ORDER BY {duckdb_md5_u32_sql('doc_id', '')} ASC, doc_id ASC) AS rk "
        "  FROM documents) "
        f"WHERE rk <= {STRATA_N} ORDER BY lang, doc_id"
    ),
    "q56_sequence_packing": (
        "WITH t AS (SELECT doc_id, lang, "
        f"  CAST({_TOKEN_COUNT_EXPR} AS BIGINT) AS n FROM documents), "
        "c AS (SELECT doc_id, lang, COALESCE(SUM(n) OVER ("
        "  PARTITION BY lang ORDER BY doc_id "
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_before "
        "FROM t) "
        f"SELECT doc_id, lang, CAST(tok_before // {PACK_CAPACITY} AS BIGINT) AS bin, "
        f"CAST(tok_before % {PACK_CAPACITY} AS BIGINT) AS bin_offset "
        "FROM c ORDER BY lang, doc_id"
    ),
    "q57_repetition_profile": (
        "WITH t AS (SELECT doc_id, "
        "  list_filter(string_split(text, chr(10)), x -> length(x) > 0) AS lines, "
        f"  {_TOKS} AS toks, length(trim(text)) AS tl FROM documents), "
        "g AS (SELECT doc_id, lines, "
        f"  CASE WHEN tl = 0 OR len(toks) < {REP_NGRAM_LEN} THEN CAST([] AS VARCHAR[]) "
        f"  ELSE list_transform(generate_series(1, len(toks) - {REP_NGRAM_LEN - 1}), "
        "    i -> toks[i] || ' ' || toks[i+1]) END AS ngrams FROM t), "
        "m AS (SELECT doc_id, max(c) AS topc FROM ("
        "  SELECT doc_id, ng, count(*) AS c FROM ("
        "    SELECT doc_id, unnest(ngrams) AS ng FROM g) GROUP BY doc_id, ng) "
        "  GROUP BY doc_id) "
        "SELECT g.doc_id, "
        "  round(CASE WHEN len(lines) = 0 THEN 0.0 ELSE "
        "    1 - CAST(len(list_distinct(lines)) AS DOUBLE) / CAST(len(lines) AS DOUBLE) "
        "  END, 6) AS dup_line_frac, "
        "  round(CASE WHEN len(ngrams) = 0 THEN 0.0 ELSE "
        "    1 - CAST(len(list_distinct(ngrams)) AS DOUBLE) / CAST(len(ngrams) AS DOUBLE) "
        "  END, 6) AS dup_ngram_frac, "
        "  round(CASE WHEN len(ngrams) = 0 THEN 0.0 ELSE "
        "    CAST(COALESCE(m.topc, 0) AS DOUBLE) / CAST(len(ngrams) AS DOUBLE) "
        "  END, 6) AS top_ngram_frac "
        "FROM g LEFT JOIN m USING (doc_id) ORDER BY doc_id"
    ),
    "q58_contamination_hits": (
        f"WITH g AS (SELECT doc_id, unnest({_SHINGLES_EXPR}) AS ng FROM documents), "
        f"bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % {CONTAM_BENCH_MOD} = 0) "
        "SELECT doc_id, count(*) AS n_hit_ngrams FROM g "
        f"WHERE doc_id % {CONTAM_BENCH_MOD} != 0 AND ng IN (SELECT ng FROM bench) "
        "GROUP BY doc_id ORDER BY doc_id"
    ),
    "q59_corpus_split": (
        "SELECT doc_id, CASE "
        + " ".join(
            f"WHEN {duckdb_md5_u32_sql('doc_id', SPLIT_SALT)} < "
            f"{int(sum(list(SPLIT_FRACTIONS.values())[: i + 1]) * (1 << 32))} "
            f"THEN '{name}'"
            for i, name in enumerate(list(SPLIT_FRACTIONS)[:-1])
        )
        + f" ELSE '{list(SPLIT_FRACTIONS)[-1]}' END AS split "
        "FROM documents ORDER BY doc_id"
    ),
    "q61_mix_corpus": (
        "WITH t AS (SELECT doc_id, source, "
        f"  CAST({_TOKEN_COUNT_EXPR} AS BIGINT) AS n FROM documents), "
        "tot AS (SELECT source, SUM(n) AS total FROM t GROUP BY source), "
        "b AS (SELECT doc_id, source, total, CASE source "
        + " ".join(
            f"WHEN '{s}' THEN CAST({float(v)} AS DOUBLE)"
            for s, v in MIX_BUDGETS.items()
        )
        + " ELSE NULL END AS budget FROM t JOIN tot USING (source)) "
        "SELECT doc_id, source FROM b "
        "WHERE budget IS NOT NULL AND total > 0 AND "
        f"{duckdb_md5_u32_sql('doc_id', MIX_SALT)} < CAST(floor("
        "  least(CAST(1.0 AS DOUBLE), budget / CAST(total AS DOUBLE)) "
        "  * 4294967296.0) AS BIGINT) "
        "ORDER BY doc_id"
    ),
    "q62_train_bigram_lm": (
        f"WITH toks AS (SELECT list_transform({_TOKS}, x -> lower(x)) AS tk "
        "  FROM documents WHERE length(trim(text)) > 0), "
        "p AS (SELECT unnest(generate_series(1, len(tk) - 1)) AS i, tk "
        "  FROM toks WHERE len(tk) >= 2), "
        "c AS (SELECT tk[i] AS prefix, tk[i+1] AS next_token, count(*) AS c "
        "  FROM p GROUP BY 1, 2) "
        "SELECT prefix, next_token, c, "
        "  round(CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY prefix) AS DOUBLE), 6) AS prob "
        "FROM c ORDER BY prefix, next_token"
    ),
    "q71_hot_shingle_report": (
        f"WITH sh AS (SELECT doc_id, unnest({_SHINGLES_EXPR}) AS shingle "
        "  FROM documents) "
        "SELECT shingle, COUNT(*) AS doc_freq FROM sh GROUP BY shingle "
        f"ORDER BY doc_freq DESC, shingle ASC LIMIT {HOT_SHINGLE_TOP_N}"
    ),
    "q73_strip_duplicate_lines": (
        "WITH corpus AS (SELECT doc_id, text || chr(10) || 'common footer ' "
        f"  || CAST(doc_id % {BOILERPLATE_MOD} AS VARCHAR) AS text FROM documents), "
        "ls AS (SELECT doc_id, str_split(text, chr(10)) AS arr FROM corpus), "
        "l AS (SELECT doc_id, unnest(arr) AS line, "
        "      generate_subscripts(arr, 1) AS pos FROM ls), "
        "n AS (SELECT doc_id, line, pos, trim(line) AS nl FROM l), "
        "hot AS (SELECT nl FROM (SELECT nl, COUNT(DISTINCT doc_id) AS d "
        f"        FROM n WHERE nl <> '' GROUP BY nl) WHERE d > {BOILERPLATE_MAX_DOCS}), "
        "kept AS (SELECT * FROM n WHERE nl = '' "
        "         OR nl NOT IN (SELECT nl FROM hot)), "
        "rebuilt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text, "
        "            COUNT(*) AS kept_n FROM kept GROUP BY doc_id) "
        "SELECT c.doc_id, COALESCE(r.text, '') AS text, "
        "  CAST(len(str_split(c.text, chr(10))) - COALESCE(r.kept_n, 0) AS BIGINT) "
        "    AS n_lines_removed "
        "FROM corpus c LEFT JOIN rebuilt r ON r.doc_id = c.doc_id "
        "ORDER BY c.doc_id"
    ),
    "q70_corpus_diff": (
        "WITH o AS (SELECT doc_id, text FROM documents), "
        "n AS (SELECT doc_id, CASE WHEN doc_id % 10 = 3 THEN text || ' v2' "
        "  ELSE text END AS text FROM documents WHERE doc_id % 10 != 7 "
        f"  UNION ALL SELECT doc_id + {DIFF_ADD_SHIFT}, text FROM documents "
        "  WHERE doc_id < 20), "
        "d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, "
        "  CASE WHEN o.doc_id IS NULL THEN 'added' "
        "       WHEN n.doc_id IS NULL THEN 'removed' "
        "       WHEN o.text IS DISTINCT FROM n.text THEN 'changed' "
        "  END AS status "
        "  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) "
        "SELECT doc_id, status FROM d WHERE status IS NOT NULL ORDER BY doc_id"
    ),
    "q69_corpus_stats": (
        "WITH t AS (SELECT source, length(text) AS nc, "
        f"  CAST({_TOKEN_COUNT_EXPR} AS BIGINT) AS n FROM documents) "
        "SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens, "
        "  CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens, "
        "  CAST(SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty, "
        "  CAST(SUM(CAST(nc AS BIGINT)) AS BIGINT) AS n_chars "
        "FROM t GROUP BY source ORDER BY source"
    ),
    "q68_label_centroids": (
        duckdb_group_centroids_sql("embeddings", "label", "embedding", 64)
        + " ORDER BY label, dim"
    ),
    "q67_inverted_index": (
        "WITH pairs AS (SELECT DISTINCT doc_id, "
        f"  unnest(list_transform({_TOKS}, x -> lower(x))) AS token "
        "  FROM documents WHERE length(trim(text)) > 0) "
        "SELECT token, count(*) AS df_count, "
        "  array_to_string(list_transform("
        f"    list_sort(list(doc_id))[1:{MAX_POSTINGS}], x -> CAST(x AS VARCHAR)), ',') AS postings "
        "FROM pairs GROUP BY token ORDER BY token"
    ),
    "q65_neardup_components": (
        # shf = Spark hot-shingle cut on the intersection stage (ADVICE r3)
        f"WITH RECURSIVE corpus AS ({_NEARDUP_CORPUS_SQL}), "
        f"sh AS (SELECT doc_id AS doc, unnest({_SHINGLES_EXPR}) AS shingle FROM corpus), "
        "sz AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc), "
        "shf AS (SELECT doc, shingle FROM sh WHERE shingle NOT IN ("
        f"  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {DEFAULT_MAX_SHINGLE_FREQ})), "
        "inter AS (SELECT l.doc AS a, r.doc AS b, COUNT(*) AS inter "
        "          FROM shf l JOIN shf r USING (shingle) WHERE l.doc < r.doc "
        "          GROUP BY l.doc, r.doc), "
        "pairs AS (SELECT a, b FROM inter "
        "  JOIN sz sza ON sza.doc = a JOIN sz szb ON szb.doc = b "
        "  WHERE CAST(inter AS DOUBLE) / CAST(sza.sz + szb.sz - inter AS DOUBLE) "
        f"    >= {JACCARD_THRESHOLD}), "
        "edges AS (SELECT a AS u, b AS v FROM pairs "
        "  UNION SELECT b AS u, a AS v FROM pairs), "
        "reach(u, r) AS (SELECT u, v FROM edges "
        "  UNION SELECT reach.u, edges.v FROM reach JOIN edges ON reach.r = edges.u) "
        "SELECT u AS node, least(u, MIN(r)) AS cluster FROM reach "
        "GROUP BY u ORDER BY node"
    ),
    "q74_cluster_size_report": (
        # shf = Spark hot-shingle cut on the intersection stage (ADVICE r3)
        f"WITH RECURSIVE corpus AS ({_NEARDUP_CORPUS_SQL}), "
        f"sh AS (SELECT doc_id AS doc, unnest({_SHINGLES_EXPR}) AS shingle FROM corpus), "
        "sz AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc), "
        "shf AS (SELECT doc, shingle FROM sh WHERE shingle NOT IN ("
        f"  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {DEFAULT_MAX_SHINGLE_FREQ})), "
        "inter AS (SELECT l.doc AS a, r.doc AS b, COUNT(*) AS inter "
        "          FROM shf l JOIN shf r USING (shingle) WHERE l.doc < r.doc "
        "          GROUP BY l.doc, r.doc), "
        "pairs AS (SELECT a, b FROM inter "
        "  JOIN sz sza ON sza.doc = a JOIN sz szb ON szb.doc = b "
        "  WHERE CAST(inter AS DOUBLE) / CAST(sza.sz + szb.sz - inter AS DOUBLE) "
        f"    >= {JACCARD_THRESHOLD}), "
        "edges AS (SELECT a AS u, b AS v FROM pairs "
        "  UNION SELECT b AS u, a AS v FROM pairs), "
        "reach(u, r) AS (SELECT u, v FROM edges "
        "  UNION SELECT reach.u, edges.v FROM reach JOIN edges ON reach.r = edges.u), "
        "comp AS (SELECT u AS node, least(u, MIN(r)) AS cluster FROM reach GROUP BY u), "
        "cs AS (SELECT cluster, COUNT(*) AS cluster_size FROM comp GROUP BY cluster) "
        "SELECT cluster_size, COUNT(*) AS n_clusters FROM cs "
        "GROUP BY cluster_size ORDER BY cluster_size"
    ),
    "q63_chunk_documents": (
        f"WITH t AS (SELECT doc_id, {_TOKS} AS tk, length(trim(text)) AS tl "
        "  FROM documents), "
        "s AS (SELECT doc_id, tk, "
        f"  unnest(generate_series(1, len(tk), {CHUNK_STRIDE})) AS start "
        "  FROM t WHERE tl > 0) "
        "SELECT doc_id, "
        f"  CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx, "
        f"  array_to_string(tk[start:least(len(tk), start + {CHUNK_WINDOW - 1})], ' ') AS chunk_text, "
        f"  CAST(least({CHUNK_WINDOW}, len(tk) - start + 1) AS BIGINT) AS n_tokens "
        "FROM s ORDER BY doc_id, chunk_idx"
    ),
    "q64_redact_pii": (
        f"WITH corpus AS ({_PII_CORPUS_SQL}) "
        "SELECT doc_id, "
        f"  {duckdb_redact_sql('text')} AS redacted, "
        f"  {duckdb_pii_count_sql('text', 'email')} AS n_email, "
        f"  {duckdb_pii_count_sql('text', 'ip')} AS n_ip, "
        f"  {duckdb_pii_count_sql('text', 'ssn')} AS n_ssn "
        "FROM corpus ORDER BY doc_id"
    ),
    "q60_tfidf_topk": (
        "WITH toks AS (SELECT doc_id, "
        f"  unnest(list_transform({_TOKS}, x -> lower(x))) AS token "
        "  FROM documents WHERE length(trim(text)) > 0), "
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token), "
        "dfreq AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY token), "
        "nd AS (SELECT count(*) AS n FROM documents), "
        "s AS (SELECT doc_id, token, tf, dfreq, "
        "  CAST(tf * n AS DOUBLE) / CAST(dfreq AS DOUBLE) AS score "
        "  FROM tf JOIN dfreq USING (token) CROSS JOIN nd), "
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id "
        "  ORDER BY score DESC, token ASC) AS rk FROM s) "
        f"SELECT doc_id, token, tf, dfreq, round(score, 6) AS score "
        f"FROM r WHERE rk <= {TFIDF_K} ORDER BY doc_id, token"
    ),
    # Exact degenerate modes of the approximate ANN ops: the whole corpus
    # is the candidate set, so the brute-force oracle (same SQL as q26)
    # applies verbatim.
    "q16_ann_lsh_exact_mode": (
        "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
        "SELECT vec_id, round(sim_raw, 6) AS sim FROM ("
        f"  SELECT e.vec_id, {_dot_sql('e.embedding', 'q.qv')} / "
        f"    (sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql('q.qv', 'q.qv')})) AS sim_raw "
        "  FROM embeddings e, q WHERE e.vec_id != 0) "
        "ORDER BY sim_raw DESC, vec_id ASC LIMIT 10"
    ),
    "q17_ann_ivf_exact_mode": (
        "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
        "SELECT vec_id, round(sim_raw, 6) AS sim FROM ("
        f"  SELECT e.vec_id, {_dot_sql('e.embedding', 'q.qv')} / "
        f"    (sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql('q.qv', 'q.qv')})) AS sim_raw "
        "  FROM embeddings e, q WHERE e.vec_id != 0) "
        "ORDER BY sim_raw DESC, vec_id ASC LIMIT 10"
    ),
    # q77: exact-mode probe of the persisted index == brute force, so the
    # q17 oracle applies verbatim.
    "q77_ann_index_probe": (
        "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
        "SELECT vec_id, round(sim_raw, 6) AS sim FROM ("
        f"  SELECT e.vec_id, {_dot_sql('e.embedding', 'q.qv')} / "
        f"    (sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql('q.qv', 'q.qv')})) AS sim_raw "
        "  FROM embeddings e, q WHERE e.vec_id != 0) "
        "ORDER BY sim_raw DESC, vec_id ASC LIMIT 10"
    ),
    "q46_subword_count": (
        "SELECT doc_id, CAST(len(regexp_extract_all(text, '"
        + BPE_SPLIT_PATTERN.replace("'", "''")
        + "')) AS BIGINT) AS n_subwords FROM documents ORDER BY doc_id"
    ),
    "q50_clean_corpus": (
        f"WITH q AS (SELECT doc_id, text FROM documents "
        f"           WHERE {_TOKEN_COUNT_EXPR} >= 30), "
        "keep AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY text) "
        "SELECT doc_id FROM keep ORDER BY doc_id"
    ),
    "q101_bpe_pair_counts": (
        f"WITH toks AS (SELECT unnest({_TOKS}) AS t FROM documents), "
        "words AS (SELECT lower(t) AS w FROM toks WHERE t != ''), "
        "wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM words GROUP BY w), "
        "pos AS (SELECT w, c, "
        "unnest(generate_series(1, length(w))) AS i FROM wc), "
        "pairs AS (SELECT substr(w, CAST(i AS INTEGER), 1) AS a, "
        "CASE WHEN i = length(w) THEN '</w>' "
        "ELSE substr(w, CAST(i AS INTEGER) + 1, 1) END AS b, c FROM pos) "
        "SELECT a, b, CAST(SUM(c) AS BIGINT) AS count FROM pairs "
        "GROUP BY a, b ORDER BY count DESC, a, b LIMIT 20"
    ),
    "q102_bpe_encode": (
        "SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_bpe_tokens "
        "FROM documents d LEFT JOIN ("
        "  SELECT doc_id, SUM(length(w) + 1 "
        "    - (length(w) - length(replace(w, 'es', ''))) // 2) AS n "
        f"  FROM (SELECT doc_id, lower(t) AS w FROM "
        f"        (SELECT doc_id, unnest({_TOKS}) AS t FROM documents) "
        "        WHERE t != '') "
        "  GROUP BY doc_id) s USING (doc_id) "
        "ORDER BY doc_id"
    ),
    "q92_png_decode_features": (
        "SELECT doc_id AS id, (n_chars % 64) + 1 AS width, "
        "(n_chars % 32) + 1 AS height, (n_chars % 4) + 1 AS n_channels "
        "FROM documents ORDER BY id"
    ),
    "q93_mp4_container_metadata": (
        "SELECT doc_id AS id, n_chars * 10 AS duration_ms, "
        "(n_chars % 128) + 16 AS width, (n_chars % 64) + 16 AS height "
        "FROM documents ORDER BY id"
    ),
    "q94_jpeg_decode_features": (
        "SELECT doc_id AS id, (n_chars % 32) + 1 AS width, "
        "(n_chars % 16) + 1 AS height, "
        "CAST(CASE WHEN n_chars % 2 = 0 THEN 3 ELSE 1 END AS BIGINT) AS n_channels "
        "FROM documents ORDER BY id"
    ),
    "q95_gif_frame_sampling": (
        "SELECT doc_id AS id, CAST(unnest(generate_series(0, "
        "(n_chars % 8) + 1, 2)) AS INTEGER) AS frame_idx "
        "FROM documents ORDER BY id, frame_idx"
    ),
    "q99_avi_frame_sampling": (
        "SELECT doc_id AS id, CAST(unnest(generate_series(0, "
        "(n_chars % 6) + 1, 2)) AS INTEGER) AS frame_idx, "
        "(n_chars % 16) + 8 AS width, (n_chars % 8) + 8 AS height, "
        "((n_chars % 6) + 2) * 40 AS duration_ms "
        "FROM documents ORDER BY id, frame_idx"
    ),
    "q96_html_text_extraction": (
        "SELECT doc_id, 'Doc & ' || CAST(doc_id AS VARCHAR) AS title, "
        "'Heading' || chr(10) || replace(text, ' the ', chr(10)) AS text "
        "FROM documents ORDER BY doc_id"
    ),
    "q97_warc_crawl_ingest": (
        "SELECT doc_id, 'http://ex.com/' || CAST(doc_id AS VARCHAR) AS uri, "
        "'Page ' || CAST(doc_id AS VARCHAR) AS title, "
        "'H' || chr(10) || replace(text, ' the ', chr(10)) AS text "
        "FROM documents ORDER BY doc_id"
    ),
    "q98_url_normalization": _q98_oracle_sql(),
    "q91_repeated_span_profile": (
        f"WITH corpus AS ({_NEARDUP_CORPUS_SQL}), "
        "spans AS (SELECT doc_id, unnest(list_transform("
        "generate_series(0, greatest(length(coalesce(text, '')) - 40, 0), 20), "
        "o -> substr(coalesce(text, ''), o + 1, 40))) AS g FROM corpus), "
        "hot AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS d "
        "FROM spans GROUP BY g) WHERE d > 1) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans, "
        "CAST(SUM(CASE WHEN g IN (SELECT g FROM hot) THEN 1 ELSE 0 END) "
        "AS BIGINT) AS n_hot_spans, "
        "CAST(SUM(CASE WHEN g IN (SELECT g FROM hot) THEN 1 ELSE 0 END) "
        "AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS hot_frac "
        "FROM spans GROUP BY doc_id ORDER BY doc_id"
    ),
    "q90_index_knn_join": (
        "WITH q AS (SELECT vec_id, embedding FROM embeddings "
        "WHERE vec_id > 0 AND vec_id < 20), "
        "c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id != 0), "
        "s AS ("
        f"  SELECT q.vec_id AS a, c.vec_id AS b, {_dot_sql('q.embedding', 'c.embedding')} / "
        f"    (sqrt({_dot_sql('q.embedding', 'q.embedding')}) * sqrt({_dot_sql('c.embedding', 'c.embedding')})) AS sim_raw "
        "  FROM q JOIN c ON q.vec_id != c.vec_id) "
        "SELECT a, b, round(sim_raw, 6) AS sim, CAST(rk AS INTEGER) AS rk FROM ("
        "  SELECT a, b, sim_raw, ROW_NUMBER() OVER "
        "    (PARTITION BY a ORDER BY sim_raw DESC, b ASC) AS rk FROM s) "
        "WHERE rk <= 3 ORDER BY a, rk"
    ),
    "q45_knn_join": (
        "WITH s AS ("
        f"  SELECT l.vec_id AS a, r.vec_id AS b, {_dot_sql('l.embedding', 'r.embedding')} / "
        f"    (sqrt({_dot_sql('l.embedding', 'l.embedding')}) * sqrt({_dot_sql('r.embedding', 'r.embedding')})) AS sim_raw "
        "  FROM embeddings l JOIN embeddings r ON l.vec_id != r.vec_id) "
        # CAST rk: DuckDB ROW_NUMBER is BIGINT, Spark's is INT
        "SELECT a, b, round(sim_raw, 6) AS sim, CAST(rk AS INTEGER) AS rk FROM ("
        "  SELECT a, b, sim_raw, ROW_NUMBER() OVER "
        "    (PARTITION BY a ORDER BY sim_raw DESC, b ASC) AS rk FROM s) "
        "WHERE rk <= 3 ORDER BY a, rk"
    ),
}
