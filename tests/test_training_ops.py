"""Tests for the training-data pipeline operators: dedup, similarity,
text analysis, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tesseract_ocr_service_spark.functions import textstats as T
from tesseract_ocr_service_spark.operators import dedup as D
from tesseract_ocr_service_spark.operators import multimodal as M
from tesseract_ocr_service_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The  quick brown fox jumps over the lazy dog"),  # exact dup (normalized)
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different content about spark shuffles"),
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (6, "Привет мир это тест кириллицы и юникода"),
        (7, ""),  # empty
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    groups = D.exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["member_ids"] == [1, 2, 5] and g["keeper"] == 1


def test_dedup_exact_keeps_one(docs):
    kept = sorted(r["doc_id"] for r in D.dedup_exact(docs).collect())
    assert kept == [1, 3, 4, 6, 7]


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # exact dups share all shingles
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0 and pairs[(2, 5)] == 1.0
    # near dup (one word differs at the end): 6 of 7 trigrams shared ->
    # |inter|=5? compute: 7 tokens -> 5 distinct? verify it's present
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def _duckdb_rows(rows, sql: str):
    """Run oracle ``sql`` in DuckDB over ``rows`` registered as the
    ``documents`` view (doc_id BIGINT, text VARCHAR)."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _ref_shingles(text, n: int) -> list:
    """Pure-python shingle_rows rule: lowercase, ASCII-whitespace
    tokens (Java ``\\s``), distinct adjacent n-grams in order; docs
    shorter than n give their whole token text ('' for NULL/empty)."""
    import re

    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", (text or "").lower()) if t]
    if len(toks) < n:
        return [" ".join(toks)]
    return list(dict.fromkeys(
        " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
    ))


def _md5(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode("utf-8")).hexdigest()


#: rows whose lowercase DuckDB and Spark disagree on (DuckDB maps final
#: sigma to σ and drops İ's combining dot; Spark keeps Java's
#: context-aware lowering, which python's str.lower matches) — their
#: expected values come from the hashlib reference instead of DuckDB
_LOWER_DIFF_ROWS = [
    (900, "ΟΔΟΣ İstanbul Σ λόγος ΛΌΓΟΣ words to fill a window of eight"),
]


def test_ngram_jaccard_exact_matches_oracle(spark):
    """Exact mode (hot_shingle_cap=None, the blocked numpy all-pairs)
    must emit the DuckDB shingle self-join's rows exactly, including
    rounded jaccard values, short/empty/NULL docs (whole-text shingle
    rule), tab/newline whitespace and unicode tokens."""
    import random

    from tesseract_ocr_service_spark.operators import queries as Q

    rnd = random.Random(7)
    vocab = (
        "the quick brown fox spark shuffle partition kernel vector "
        "Привет мир 中文 数据 café naïve"
    ).split()
    rows = []
    for i in range(400):
        n_w = rnd.randint(1, 40)  # includes docs shorter than n=3
        rows.append((i, " ".join(rnd.choice(vocab) for _ in range(n_w))))
    # planted structure: exact dups, a near-dup, tab/newline variants of
    # a doc, empty and NULL text
    rows[50] = (50, rows[10][1])
    rows[51] = (51, rows[10][1] + " extra")
    rows[52] = (52, rows[10][1].replace(" ", "\t", 2).replace(" ", "\n", 1))
    rows.append((400, ""))
    rows.append((401, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        map(
            tuple,
            D.ngram_jaccard_pairs(
                df, threshold=0.2, hot_shingle_cap=None
            ).collect(),
        )
    )
    exp = sorted(
        _duckdb_rows(
            rows,
            f"""
            WITH {Q._shingle_ctes("documents")},
            sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(inter / (sa.sz + sb.sz - inter), 4) >= 0.2
            """,
        )
    )
    assert got == exp
    assert len(got) > 0
    # exact and whitespace-only dups must survive with jaccard 1.0
    assert {(10, 50, 1.0), (10, 52, 1.0)} <= set(got)


def test_simhash_rolling_matches_oracle(spark):
    """The fused (sh, rolling_fp) Arrow pass must equal the DuckDB
    replay of simhash_table(hash_fn='md5_60') and the md5 winnowing
    fingerprint exactly — including empty/NULL docs, docs shorter than
    the window, tab/newline whitespace (Java ASCII \\s semantics) and
    unicode tokens — and its sh must equal simhash_table's."""
    from tesseract_ocr_service_spark.operators import queries as Q

    rows = [
        (1, "a b  c"),
        (2, ""),
        (3, None),
        (4, "tab\tsep\nnl longer doc with many words here ok"),
        (5, "Привет мир 中文 café x y z w q r t"),
        (6, "one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(
        rows + _LOWER_DIFF_ROWS, "doc_id long, text string"
    )
    fused = sorted(map(tuple, D.simhash_rolling_table(docs).collect()))
    exp = dict(
        (r[0], r) for r in _duckdb_rows(
            rows + _LOWER_DIFF_ROWS, Q._sql_simhash_fingerprints()
        )
    )
    for i, text in _LOWER_DIFF_ROWS:
        # simhash votes on RAW tokens (no lowering): DuckDB's sh stands
        exp[i] = (i, exp[i][1], min(_md5(s) for s in _ref_shingles(text, 8)))
    assert fused == sorted(exp.values()) and len(fused) == 7
    sh = sorted(
        map(tuple, D.simhash_table(docs, hash_fn="md5_60").collect())
    )
    assert [(i, h) for i, h, _ in fused] == sh


def test_minhash_signatures_match_oracle(spark):
    """The one-pass Arrow signature builder must produce the DuckDB
    list_min(md5(i || ':' || shingle)) signatures exactly, including
    short/empty/NULL docs, tab/newline whitespace and unicode shingles;
    the carry column passes through unchanged."""
    import random

    from tesseract_ocr_service_spark.operators import queries as Q

    rnd = random.Random(11)
    vocab = "alpha beta gamma Привет мир 中文 café x&y".split()
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 30))))
        for i in range(300)
    ]
    rows += [(300, ""), (301, None), (302, "one two"),
             (303, "tab\tsep\nnl CAFÉ Café")]
    df = spark.createDataFrame(
        rows + _LOWER_DIFF_ROWS, "doc_id long, text string"
    )
    out = D.minhash_signatures_agg(
        df, carry={"t": F.coalesce(F.col("text"), F.lit("<null>"))}
    ).collect()
    got = {r["id"]: "|".join(r["sig"]) for r in out}
    assert {r["id"]: r["t"] for r in out} == {
        i: "<null>" if t is None else t for i, t in rows + _LOWER_DIFF_ROWS
    }
    assert all(len(r["sig"]) == 16 for r in out)
    exp = {
        i: d
        for i, d in _duckdb_rows(rows + _LOWER_DIFF_ROWS, Q._sql_minhash())
    }
    for i, text in _LOWER_DIFF_ROWS:
        sh = _ref_shingles(text, 3)
        exp[i] = _md5("|".join(
            min(_md5(f"{k}:{s}") for s in sh) for k in range(16)
        ))
    assert {i: _md5(s) for i, s in got.items()} == exp and len(exp) == 305


def test_hashed_gram_impls_equal(spark, monkeypatch):
    """Both sides of the dsir gram gate emit the identical
    (id, bucket, cnt) table: the window shape below
    ``sizing.SMALL_INPUT_BYTES`` and the Arrow gram builder (r6) at or
    above it, including single-token, Cyrillic, CJK, empty and NULL
    docs."""
    import random

    from tesseract_ocr_service_spark.operators import dsir as DS
    from tesseract_ocr_service_spark.operators import sizing

    rnd = random.Random(13)
    vocab = "a bb ccc Привет 中文 café".split()
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 25))))
        for i in range(200)
    ]
    rows += [(200, ""), (201, None), (202, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        out = DS.hashed_gram_counts(df, n_buckets=64, hash_mode="md5")
        plan = out._jdf.queryExecution().executedPlan().toString()
        return sorted(map(tuple, out.collect())), "MapInPandas" in plan

    g_small, arrow_small = run()
    monkeypatch.setattr(sizing, "SMALL_INPUT_BYTES", 0)
    g_large, arrow_large = run()
    assert not arrow_small and arrow_large
    assert g_large == g_small and len(g_small) > 0


def test_minhash_pairs_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0
    assert not any(4 in p or 6 in p for p in pairs)


def test_simhash_near_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base),
        (2, base + " extraword"),  # tiny perturbation
        (3, "totally different short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = D.simhash_pairs(df, max_hamming=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert not any(3 in p for p in found)


def test_simhash_multi_index_matches_fixed_bands(spark):
    """Both pair generators are provably exact for hamming <= 3
    (pigeonhole over their block structures), so their pair sets must
    be IDENTICAL on any corpus; the sf0.001 documents table has real
    near-dup clusters (25 pairs), so the equality is non-vacuous."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mi = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_pairs_multi_index(docs, max_bucket=None).collect()
    }
    fb = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_pairs(docs, max_bucket=None).collect()
    }
    assert mi == fb
    assert len(mi) > 0


def test_simhash_multi_index_pigeonhole_guarantee():
    """Pure-python property of the block/table construction: ANY two
    60- or 64-bit values within hamming <= k share at least one of the
    C(k+3, 3) 3-block keys — the exactness claim the operator's plan
    relies on (no Spark needed; exhaustively random-checked)."""
    import random
    from itertools import combinations

    rng = random.Random(7)
    for n_bits in (60, 64):
        for k in (1, 2, 3):
            blocks = D._simhash_blocks(n_bits, k + 3)
            subsets = list(combinations(range(k + 3), 3))

            def keys(v):
                out = []
                for sub in subsets:
                    key = 0
                    for bi in sub:
                        shift, width = blocks[bi]
                        key = (key << width) | ((v >> shift) & ((1 << width) - 1))
                    out.append(key)
                return out

            for _ in range(200):
                a = rng.getrandbits(n_bits)
                b = a
                for bit in rng.sample(range(n_bits), k):
                    b ^= 1 << bit
                shared = any(
                    x == y for x, y in zip(keys(a), keys(b))
                )
                assert shared, (n_bits, k, a, b)


def test_simhash_deterministic(spark, docs):
    a = {r["doc_id"]: r["sh"] for r in docs.select("doc_id", T.simhash64(F.col("text")).alias("sh")).collect()}
    b = {r["doc_id"]: r["sh"] for r in docs.select("doc_id", T.simhash64(F.col("text")).alias("sh")).collect()}
    assert a == b
    assert a[7] == 0  # empty text


@pytest.fixture(scope="module")
def vectors(spark):
    import random

    r = random.Random(3)
    rows = []
    for i in range(100):
        rows.append((i, [r.uniform(-1, 1) for _ in range(16)]))
    # near-dup pair: 200 is 201 slightly perturbed
    base = [r.uniform(-1, 1) for _ in range(16)]
    rows.append((200, base))
    rows.append((201, [x + 0.001 for x in base]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(vectors):
    q_row = vectors.where(F.col("vec_id") == 200).collect()[0]
    top = S.cosine_topk(vectors, q_row["embedding"], k=3).collect()
    assert top[0]["vec_id"] == 200 and top[0]["sim"] == 1.0
    assert top[1]["vec_id"] == 201 and top[1]["sim"] > 0.999


def test_ann_lsh_finds_self_and_neardup(vectors):
    q_row = vectors.where(F.col("vec_id") == 200).collect()[0]
    top = S.ann_topk_lsh(vectors, q_row["embedding"], k=5, n_planes=6).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 200 and 201 in ids  # perturbed twin shares the bucket


def test_embedding_neardup_pairs(vectors):
    pairs = S.embedding_neardup_pairs(
        vectors, threshold=0.999, n_planes=6, dim=16
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(200, 201)}


def test_lsh_bucket_count_bounded(vectors):
    b = S.with_lsh_buckets(vectors, n_planes=6, dim=16)
    n_buckets = b.select("bucket").distinct().count()
    assert 1 < n_buckets <= 64


def test_textstats_basic(spark):
    df = spark.createDataFrame(
        [
            (1, "The quick brown fox, and a lazy dog!"),
            (2, "Привет мир Привет мир Привет"),
            (3, "中文分词测试文本"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = df.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tok"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        T.lang_id(F.col("text")).alias("lang"),
        T.quality_score(F.col("text")).alias("q"),
        T.fingerprint_md5(F.col("text")).alias("fp"),
        *T.quality_features(F.col("text")),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_tok"] == 8
    assert by_id[1]["n_bpe"] == 10  # 8 words + ',' + '!'
    assert by_id[1]["lang"] == "latin"
    assert by_id[2]["lang"] == "ru"
    assert by_id[3]["lang"] == "zh"
    assert by_id[4]["lang"] == "unknown"
    assert by_id[1]["stopword_ratio"] == pytest.approx(3 / 8, abs=1e-4)
    assert by_id[2]["type_token_ratio"] == pytest.approx(2 / 5, abs=1e-4)
    assert 0.0 <= by_id[1]["q"] <= 1.0
    # empty doc: only the length-penalty floor contributes (0.25 * 0.25)
    assert by_id[4]["n_tok"] == 0 and by_id[4]["q"] == 0.0625
    # fingerprint ignores case/whitespace
    df2 = spark.createDataFrame(
        [(1, "the  QUICK brown fox, and a lazy dog!")], ["doc_id", "text"]
    )
    fp2 = df2.select(T.fingerprint_md5(F.col("text")).alias("fp")).collect()[0]["fp"]
    assert fp2 == by_id[1]["fp"]


def test_rolling_fingerprint_is_min_shingle_hash(spark):
    text = "One two THREE four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = df.select(
        T.rolling_fingerprint(F.col("text"), 8).alias("rfp")
    ).collect()[0]["rfp"]
    # independent recomputation: xxhash64 of each normalized 8-gram
    toks = text.lower().split()
    shingles = [
        " ".join(toks[i : i + 8]) for i in range(len(toks) - 8 + 1)
    ]
    hashes = [
        r["h"]
        for r in spark.createDataFrame([(s,) for s in shingles], ["s"])
        .select(F.xxhash64("s").alias("h"))
        .collect()
    ]
    assert got == min(hashes)
    # short doc (< window tokens): whole text is the single shingle
    short = spark.createDataFrame([(1, "just three words")], ["doc_id", "text"])
    srf = short.select(
        T.rolling_fingerprint(F.col("text"), 8).alias("rfp")
    ).collect()[0]["rfp"]
    sh = spark.createDataFrame([("just three words",)], ["s"]).select(
        F.xxhash64("s").alias("h")
    ).collect()[0]["h"]
    assert srf == sh


def test_multimodal_features_and_frames(spark):
    rows = [
        ("a1", "image", b"\x89PNGfakebytes1", "image/png"),
        ("a2", "image", b"\x89PNGother", "image/png"),
        ("v1", "video", b"\x00\x00fakevideo", "video/mp4"),
        ("x1", "audio", b"RIFFfake", "audio/wav"),
    ]
    media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    feats = {r["asset_id"]: r for r in M.extract_image_features(media).collect()}
    assert set(feats) == {"a1", "a2"}
    assert len(feats["a1"]["features"]) == 16
    assert feats["a1"]["width"] >= 64 and feats["a1"]["n_bytes"] == 14
    # deterministic across runs
    again = {r["asset_id"]: r for r in M.extract_image_features(media).collect()}
    assert feats["a1"]["sha256"] == again["a1"]["sha256"]
    assert feats["a1"]["features"] == again["a1"]["features"]

    frames = M.sample_video_frames(media, every_ms=7000).collect()
    assert all(r["asset_id"] == "v1" for r in frames)
    assert [r["frame_index"] for r in frames] == list(range(len(frames)))
    assert len(frames) >= 1


def test_real_decode_path_gated():
    with pytest.raises(NotImplementedError, match="codec unavailable"):
        M.decode_image(b"anything")


def test_multimodal_audio_features(spark):
    """Audio twin of the image stage: routing filters non-audio rows,
    every field is a deterministic function of the content digest, and
    the decode math matches the documented hex-substring replay."""
    import hashlib

    rows = [
        ("x1", "audio", b"RIFFfake", "audio/wav"),
        ("x2", "audio", b"RIFFother", "audio/wav"),
        ("a1", "image", b"\x89PNGfakebytes1", "image/png"),
    ]
    media = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    feats = {r["asset_id"]: r for r in M.extract_audio_features(media).collect()}
    assert set(feats) == {"x1", "x2"}
    r = feats["x1"]
    hx = hashlib.sha256(b"RIFFfake").hexdigest()
    assert r["sha256"] == hx
    assert r["duration_ms"] == 500 + int(hx[4:8], 16) % 59500
    assert r["sample_rate"] == (8000, 16000, 22050, 44100, 48000)[
        int(hx[8:10], 16) % 5
    ]
    assert r["n_channels"] == 1 + int(hx[10:12], 16) % 2
    assert r["n_bytes"] == 8 and len(r["features"]) == 16
    again = {r["asset_id"]: r for r in M.extract_audio_features(media).collect()}
    assert feats["x2"]["features"] == again["x2"]["features"]


def test_real_audio_decode_path_gated():
    with pytest.raises(NotImplementedError, match="codec unavailable"):
        M.decode_audio(b"anything")


def test_auto_n_planes_sizing(spark):
    """n_planes='auto' sizes the bucket space ~log2(N): the sizing rule
    measured in BENCH/BASELINE.md 'Scale evidence'."""
    from tesseract_ocr_service_spark.operators import similarity as S

    assert S.auto_n_planes(2_000) == 8
    assert S.auto_n_planes(20_000) == 12  # ceil(8 + log2(10))
    assert S.auto_n_planes(0) == 8
    # 'auto' produces the same pairs as the explicit equivalent count
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = embs.count()
    auto = S.embedding_neardup_pairs(embs, threshold=0.98, n_planes="auto")
    manual = S.embedding_neardup_pairs(
        embs, threshold=0.98, n_planes=S.auto_n_planes(n)
    )
    a = sorted(map(tuple, auto.collect()))
    m = sorted(map(tuple, manual.collect()))
    assert a == m


def test_scaled_corpus_generator_is_partitioning_independent(spark, tmp_path):
    """sources/scale.py rows are pure functions of (seed, id): the same
    corpus generated at different parallelism must be IDENTICAL — the
    scale-evidence bench depends on this."""
    from tesseract_ocr_service_spark.sources import scale

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    scale.write_documents(spark, a, 400, seed=5, partitions=3)
    scale.write_documents(spark, b, 400, seed=5, partitions=11)
    da = spark.read.parquet(a).orderBy("doc_id").collect()
    db = spark.read.parquet(b).orderBy("doc_id").collect()
    assert da == db
    va = str(tmp_path / "va")
    vb = str(tmp_path / "vb")
    scale.write_embeddings(spark, va, 150, seed=5, partitions=2)
    scale.write_embeddings(spark, vb, 150, seed=5, partitions=7)
    ea = spark.read.parquet(va).orderBy("vec_id").collect()
    eb = spark.read.parquet(vb).orderBy("vec_id").collect()
    assert ea == eb
    # planted structure exists: at least one exact-dup text pair
    from pyspark.sql import functions as F

    dups = (
        spark.read.parquet(a)
        .groupBy("text")
        .count()
        .where(F.col("count") >= 2)
        .count()
    )
    assert dups >= 1


def test_contamination_hits_and_decontaminate(spark):
    """Corpus docs sharing >= n-gram overlap with the benchmark set are
    flagged and dropped; clean docs score 0 and survive."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # shares the full 8-gram window with the benchmark doc
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "completely unrelated words about spark catalyst plans"),
            # shares words but no 8-gram run
            (3, "the quick brown cat sleeps under the busy dog tonight"),
        ],
        ["doc_id", "text"],
    )
    hits = {
        r["id"]: r["n_hits"]
        for r in D.contamination_hits(corpus, bench, n=8).collect()
    }
    assert hits[1] > 0 and hits[2] == 0 and hits[3] == 0, hits
    kept = sorted(
        r["doc_id"] for r in D.decontaminate(corpus, bench, n=8).collect()
    )
    assert kept == [2, 3]


def test_contamination_benchmark_side_is_broadcast(spark):
    """The eval set must broadcast (corpus never shuffled by the
    probe): the plan joins corpus shingles to a broadcast benchmark."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pyspark.sql import functions as F2

    out = D.contamination_hits(
        docs.where(F2.col("doc_id") % 17 != 0),
        docs.where(F2.col("doc_id") % 17 == 0),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_dedup_paragraphs_c4_rule(spark):
    """Lines occurring >= min_df times across the corpus are dropped
    from EVERY document; survivors reassemble in original order;
    all-dropped docs stay present with ''."""
    rows = [
        (1, "unique alpha line\nCOMMON FOOTER\nunique beta line"),
        (2, "COMMON FOOTER\nonly in doc two"),
        (3, "COMMON FOOTER"),
        (4, ""),
        (5, ""),  # '' occurs twice -> dropped from both
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in D.dedup_paragraphs(df, min_df=2).collect()
    }
    assert out[1]["text_dedup"] == "unique alpha line\nunique beta line"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_dropped"]) == (2, 1)
    assert out[2]["text_dedup"] == "only in doc two"
    assert out[3]["text_dedup"] == "" and out[3]["n_lines_dropped"] == 1
    assert out[4]["text_dedup"] == "" and out[4]["n_lines_kept"] == 0
    assert set(out) == {1, 2, 3, 4, 5}  # no doc vanishes


def test_dedup_spans_exact_substr(spark):
    """ExactSubstr rule (Lee et al. 2021), token-level: a k-gram
    occurring >= min_df times corpus-wide (within-doc repeats count)
    marks its k positions; covered tokens are removed, survivors
    reassemble in order; short/empty docs pass through untouched."""
    shared = "one two three four five"  # the duplicated 5-token span
    rows = [
        # suffixes diverge IMMEDIATELY after the span — a common next
        # token would extend the duplicated run by one more gram
        (1, f"intro words {shared} apple anchor"),
        (2, f"other opening {shared} banana bridge"),
        (3, "totally unique content here with no repeats at all"),
        (4, "tiny doc"),  # < k tokens: no gram, fully kept
        (5, ""),  # empty stays present with ''
        # within-doc repeat: the span duplicates ITSELF (df=2 from one doc)
        (6, f"x {shared} y {shared} z"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in D.dedup_spans(df, k=5, min_df=2).collect()}
    assert out[1]["text_dedup"] == "intro words apple anchor"
    assert (out[1]["n_tokens_kept"], out[1]["n_tokens_dropped"]) == (4, 5)
    assert out[2]["text_dedup"] == "other opening banana bridge"
    assert out[3]["n_tokens_dropped"] == 0
    assert out[4]["text_dedup"] == "tiny doc"
    assert out[5]["text_dedup"] == "" and out[5]["n_tokens_kept"] == 0
    assert out[6]["text_dedup"] == "x y z"
    assert out[6]["n_tokens_dropped"] == 10
    assert set(out) == {1, 2, 3, 4, 5, 6}


def test_dedup_spans_coverage_extends_past_gram_starts(spark):
    """A duplicated k-gram covers all k positions, not just its start:
    two docs sharing a 6-token run at k=5 have 2 duplicated starts and
    6 covered tokens each."""
    run = "a b c d e f"
    rows = [(1, f"p {run} q"), (2, f"r {run} s")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in D.dedup_spans(df, k=5, min_df=2).collect()}
    assert out[1]["text_dedup"] == "p q"
    assert out[1]["n_tokens_dropped"] == 6
    with pytest.raises(ValueError):
        D.dedup_spans(df, min_df=1)


def test_dedup_spans_plan_single_scan(spark):
    """1 scan, 3 exchanges (id -> gram key -> id); the reassembly
    groupBy rides the coverage window's id partitioning — no 4th
    exchange, no self-join."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        D.dedup_spans(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 3
    # the production hashed-key path (8-byte xxhash64 shuffle keys)
    # makes identical drop decisions on real data
    raw = D.dedup_spans(docs).collect()
    hashed = D.dedup_spans(docs, hashed=True).collect()
    assert sorted(map(tuple, raw)) == sorted(map(tuple, hashed))


def test_semantic_dedup_semdedup_rule(spark):
    """Within-cluster cosine >= t drops every member but the lowest id;
    cross-cluster twins are NOT compared (the SemDeDup approximation);
    sub-threshold members survive."""
    rows = [
        (1, [1.0, 0.0]),          # cluster 0, keeper
        (2, [0.999, 0.01]),       # ~dup of 1 -> dropped
        (3, [0.8, 0.6]),          # cluster 0 but cos(1,3)=0.8 < t
        (4, [0.0, 1.0]),          # cluster 1, keeper
        (5, [0.0, 2.0]),          # scaled dup of 4 -> dropped
        (6, [0.05, 1.0]),         # ~dup of 4 -> dropped
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = {
        r["vec_id"]: (r["list_id"], r["keep"])
        for r in S.semantic_dedup(df, cents, threshold=0.95).collect()
    }
    assert out[1] == (0, 1) and out[2] == (0, 0)
    assert out[3] == (0, 1)  # same cluster, below threshold
    assert out[4] == (1, 1) and out[5] == (1, 0) and out[6] == (1, 0)


def test_semantic_dedup_degenerate_codebook_capped(spark):
    """A collapsed codebook (near-constant embedding column -> every
    vector in ONE cluster) must not go m^2: with max_cluster below the
    cluster size the overfull cluster is excluded from pair
    enumeration — zero candidates — while every member still comes back
    keep=1 (no silent row loss). Uncapped, the same input drops all but
    the lowest id; the cap-stats telemetry exposes the difference."""
    n = 40
    rows = [(i, [1.0, 1e-6 * i]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [[1.0, 0.0], [0.0, 1.0]]

    capped = S.semantic_dedup(df, cents, 0.95, max_cluster=10).collect()
    assert len(capped) == n
    assert all(r["keep"] == 1 for r in capped)

    uncapped = S.semantic_dedup(df, cents, 0.95, max_cluster=None).collect()
    assert sum(r["keep"] for r in uncapped) == 1  # genuine m^2 shape

    stats = S.semantic_dedup_cap_stats(df, cents, max_cluster=10)
    assert stats["n_capped_buckets"] == 1
    assert stats["n_dropped_rows"] == n
    assert stats["max_bucket"] == n


def test_canonical_url_rules(spark):
    """Case/port/www/fragment/tracking variants collapse to one key;
    real query params and non-default ports survive."""
    rows = [
        (1, "https://news.example.com/a"),
        (2, "HTTPS://NEWS.Example.COM:443/a"),
        (3, "https://www.news.example.com/a?utm_source=f&utm_medium=m"),
        (4, "https://news.example.com/a?ref=tw#frag"),
        (5, "http://news.example.com:80/a"),  # http default port
        (6, "https://news.example.com/a?id=7&utm_source=f"),  # real param
        (7, "https://news.example.com:8443/a"),  # NON-default port kept
        (8, "https://news.example.com"),  # empty path -> '/'
        (9, "https://news.example.com/A"),  # path case preserved
        # 'href' must NOT match the 'ref' alternative as a substring
        (10, "https://news.example.com/a?href=tw&utm_x=1"),
    ]
    df = spark.createDataFrame(rows, ["i", "u"])
    got = {
        r["i"]: (r["c"], r["h"])
        for r in df.select(
            "i",
            T.canonical_url(F.col("u")).alias("c"),
            T.url_host(F.col("u")).alias("h"),
        ).collect()
    }
    base = "https://news.example.com/a"
    assert got[1][0] == got[2][0] == got[3][0] == got[4][0] == base
    assert got[5][0] == "http://news.example.com/a"
    assert got[6][0] == "https://news.example.com/a?id=7"
    assert got[7][0] == "https://news.example.com:8443/a"
    assert got[7][1] == "news.example.com:8443"
    assert got[8][0] == "https://news.example.com/"
    assert got[9][0] == "https://news.example.com/A"  # != got[1]
    assert got[10][0] == "https://news.example.com/a?href=tw"
    assert all(h == "news.example.com" for i, (_, h) in got.items()
               if i not in (7,))


def test_redact_pii_patterns(spark):
    rows = [
        (1, "mail bob.smith+x@corp.example.org now"),
        (2, "server at 192.168.10.254 port 8080"),
        (3, "call +1 (415) 555-0100 today"),
        (4, "clean text with number 42 and v1.2 nothing to redact"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["red"]
        for r in df.select(
            "doc_id", T.redact_pii(F.col("text")).alias("red")
        ).collect()
    }
    assert out[1] == "mail <EMAIL> now"
    assert out[2] == "server at <IP> port 8080"
    assert out[3] == "call <PHONE> today"
    assert out[4] == rows[3][1]  # untouched


def test_nfc_normalization(spark):
    df = spark.createDataFrame(
        [(1, "cafe\u0301 nai\u0308ve"), (2, "plain"), (3, None)],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", T.nfc(F.col("text")).alias("n")).collect()
    }
    assert out[1] == "caf\u00e9 na\u00efve"  # composed forms
    assert out[2] == "plain" and out[3] is None


def test_assign_codebook_batched_matches_expr(spark):
    """The numpy-matmul assignment (large-K path) must agree with the
    JVM expression argmax on real embeddings, and semantic_dedup must
    produce identical output through either path."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.ivf_centroids(embs, n_lists=16, iterations=0)
    expr = {
        r["id"]: r["list_id"]
        for r in embs.select(
            F.col("vec_id").alias("id"),
            S.ivf_assign(F.col("embedding"), cents).alias("list_id"),
        ).collect()
    }
    batched = {
        r["id"]: r["list_id"]
        for r in S.assign_codebook_batched(embs, cents).collect()
    }
    assert expr == batched
    out_e = sorted(
        map(tuple, S.semantic_dedup(embs, cents, 0.3, assign="expr").collect())
    )
    out_b = sorted(
        map(tuple,
            S.semantic_dedup(embs, cents, 0.3, assign="batched").collect())
    )
    assert out_e == out_b and out_e


def test_dsir_importance_separates_target(spark):
    """Planted two-vocabulary corpus: every target-vocab doc must
    outscore every raw-vocab doc (the importance ratio is exactly the
    vocabulary log-odds here), the keep threshold must split at the
    median, and NULL-text docs must score 0, not vanish."""
    from tesseract_ocr_service_spark.operators import dsir as DS

    good = [(i, "alpha beta gamma delta alpha beta gamma") for i in range(20)]
    bad = [(100 + i, "zork quux blarg snarf zork quux blarg") for i in range(20)]
    mixed = [(200, "alpha beta zork quux")]
    empty = [(300, None)]
    df = spark.createDataFrame(
        good + bad + mixed + empty, ["doc_id", "text"]
    )
    out = DS.dsir_importance(
        df, target=F.col("doc_id") < 100, n_buckets=64, keep_frac=0.5
    ).collect()
    by = {r["doc_id"]: r for r in out}
    assert len(by) == 42
    g_min = min(by[i]["score_micro"] for i in range(20))
    b_max = max(by[100 + i]["score_micro"] for i in range(20))
    assert g_min > b_max
    assert all(by[i]["keep"] == 1 for i in range(20))
    assert all(by[100 + i]["keep"] == 0 for i in range(20))
    assert by[300]["score_micro"] == 0
    kept = sum(r["keep"] for r in out)
    assert 20 <= kept <= 22
    assert all(r["is_target"] in (0, 1) for r in out)


def test_hashed_linear_score_uniform_weights(spark):
    """With every bucket weight = +1 the score is exactly the gram
    count (2*ntok - 1 for ntok >= 1), independent of hashing — pins
    the feature bag (uni+bigram multiplicity) and the left-join
    re-attachment of gramless docs."""
    from tesseract_ocr_service_spark.operators import dsir as DS

    df = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "aa"), (3, ""), (4, None)],
        ["doc_id", "text"],
    )
    w_pos = spark.range(64).select(
        F.col("id").alias("bucket"), F.lit(1).alias("w_micro")
    )
    got = {
        r["doc_id"]: (r["score_micro"], r["label"])
        for r in DS.hashed_linear_score(df, w_pos, n_buckets=64).collect()
    }
    # "aa bb cc": 3 unigrams + 2 bigrams = 5; "aa": 1; empty/null: 0
    assert got == {1: (5, 1), 2: (1, 1), 3: (0, 1), 4: (0, 1)}
    w_neg = spark.range(64).select(
        F.col("id").alias("bucket"), F.lit(-1).alias("w_micro")
    )
    got_n = {
        r["doc_id"]: (r["score_micro"], r["label"])
        for r in DS.hashed_linear_score(df, w_neg, n_buckets=64).collect()
    }
    assert got_n == {1: (-5, 0), 2: (-1, 0), 3: (0, 1), 4: (0, 1)}


def test_perplexity_filter_bigram_lm(spark):
    """Docs made of the corpus's dominant bigrams must get a higher
    mean log-prob (lower perplexity) than a doc of one-off bigrams;
    short docs (< 2 tokens) get mean 0 and still appear."""
    from tesseract_ocr_service_spark.operators import dsir as DS

    common = [(i, "the cat sat on the mat " * 4) for i in range(10)]
    rare = [(50, "zyx wvu tsr qpo nml kji")]
    short = [(60, "one"), (61, None)]
    df = spark.createDataFrame(common + rare + short, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in DS.perplexity_filter(
        df, n_buckets=128, keep_frac=0.5
    ).collect()}
    assert len(out) == 13
    assert all(
        out[i]["mean_micro"] > out[50]["mean_micro"] for i in range(10)
    )
    assert out[50]["keep"] == 0 and all(out[i]["keep"] == 1 for i in range(10))
    for d in (60, 61):
        assert out[d]["n_bigrams"] == 0 and out[d]["mean_micro"] == 0
        assert out[d]["logprob_micro"] == 0


def test_keep_best_per_component_longest_wins(spark):
    # docs 1/2/3 are mutual near-dups; 3 is the LONGEST member so the
    # FineWeb-style retention keeps it (dedup_corpus would keep id 1).
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox jumps over the lazy dog again today"),
        (4, "completely different content about spark shuffles"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {
        r["doc_id"]: r
        for r in D.keep_best_per_component(df, threshold=0.5).collect()
    }
    assert set(kept) == {3, 4}
    assert kept[3]["component_id"] == 1  # cluster labeled by min member
    assert kept[3]["score"] == 11


def test_keep_best_per_component_custom_score_and_ties(spark):
    # equal-length exact dups: tie broken by LOWEST doc_id; a custom
    # score column inverts the choice.
    rows = [
        (10, "alpha beta gamma delta epsilon zeta eta theta"),
        (11, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = D.keep_best_per_component(df, threshold=0.5).collect()
    assert [r["doc_id"] for r in kept] == [10]
    inv = D.keep_best_per_component(
        df, score_col=F.col("doc_id").cast("bigint"), threshold=0.5
    ).collect()
    assert [r["doc_id"] for r in inv] == [11]


def test_url_host_filter_fires_every_rule(spark):
    from tesseract_ocr_service_spark.operators import queries as Q

    out = Q.url_host_filter(spark, "/root/testdata/sf0.001").toPandas()
    reasons = set(out["reason"].dropna())
    assert reasons == {
        "host_blocklist", "path_keyword", "digit_host", "url_too_long"
    }
    # tracking-param variant (doc_id%6==5) is kept, not flagged
    import pandas as pd  # noqa: F401
    v5 = out[out["doc_id"] % 6 == 5]
    assert (v5["keep"] == 1).all()
    # the blocklist join must be a broadcast, never a shuffle
    plan = Q.url_host_filter(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_gopher_rules_per_rule(spark):
    """Each Gopher rule fires on a text violating exactly that rule
    (severity-ordered reason), and a clean doc passes all seven."""
    clean = ("the quick brown fox and that have with of to be fine " * 8
             ).strip()
    cases = [
        (0, clean, None),
        (1, "too short to be a doc", "word_count"),
        (2, ("pneumonoultramicroscopicsilico " * 60).strip(),
         "mean_word_len"),
        (3, clean + " " + ("# " * 20).strip(), "symbol_ratio"),
        (4, "\n".join(["• the quick brown fox and that have with"] * 10),
         "bullet_lines"),
        (5, "\n".join([clean[:52]] * 6 + [clean[:52] + "..."] * 4),
         "ellipsis_lines"),
        (6, ("12345 6789 " * 30).strip(), "alpha_words"),
        (7, ("quick brown fox jumps over lazy dog again " * 8).strip(),
         "stopwords"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], ["doc_id", "text"]
    )
    sig = T.gopher_signals(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.gopher_reason(sig).alias("reason"),
            T.gopher_keep(F.col("text")).alias("keep"),
        ).collect()
    }
    for i, _, want in cases:
        assert out[i]["reason"] == want, (i, out[i]["reason"], want)
        assert out[i]["keep"] == (want is None)


def test_gopher_filter_planted_variants(spark):
    """The driver query's planted variants route every doc_id % 8 class
    to its designed reason — the value-hash oracle then proves DuckDB
    agrees on the same integer arithmetic."""
    from tesseract_ocr_service_spark.operators import queries as Q

    rows = Q.gopher_filter(spark, "/root/testdata/sf0.001").collect()
    want = {
        0: None, 1: "word_count", 2: "mean_word_len", 3: "symbol_ratio",
        4: "bullet_lines", 5: "ellipsis_lines", 6: "alpha_words",
        7: "stopwords",
    }
    assert len(rows) > 0
    for r in rows:
        v = r["doc_id"] % 8
        assert r["reason"] == want[v], (r["doc_id"], v, r["reason"])
        assert r["keep"] == (1 if want[v] is None else 0)


def test_dedup_paragraphs_host_scope(spark):
    """scope_col='host': a line repeated WITHIN a host drops; the same
    line text appearing once per host (globally frequent) survives —
    the semantic difference vs the global pass."""
    rows = [
        # host a: banner repeated on both pages -> dropped
        (1, "a", "banner of a\nunique one"),
        (2, "a", "banner of a\nunique two"),
        # hosts b and c each quote the SAME licence line once:
        # globally occ=2, per-host occ=1 -> kept under host scope
        (3, "b", "licence line\nbody three"),
        (4, "c", "licence line\nbody four"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "host", "text"])
    scoped = {
        r["id"]: r
        for r in D.dedup_paragraphs(
            df, "doc_id", "text", min_df=2, scope_col="host"
        ).collect()
    }
    assert scoped[1]["text_dedup"] == "unique one"
    assert scoped[2]["text_dedup"] == "unique two"
    assert scoped[3]["text_dedup"] == "licence line\nbody three"
    assert scoped[4]["text_dedup"] == "licence line\nbody four"
    assert scoped[1]["n_lines_dropped"] == 1
    assert scoped[3]["n_lines_dropped"] == 0
    # the global pass drops the licence line instead
    glob = {
        r["id"]: r
        for r in D.dedup_paragraphs(df, "doc_id", "text", min_df=2)
        .collect()
    }
    assert glob[3]["text_dedup"] == "body three"
    assert glob[4]["text_dedup"] == "body four"


def _gopher_reason_py(text: str):
    """Independent pure-python transcription of the Gopher rule chain
    (tests/oracle.py discipline): same integer arithmetic, same ASCII
    regex semantics as the JVM expressions."""
    import re

    toks = [t for t in re.split(r"[ \t\n\x0b\x0c\r]+", text) if t != ""]
    n_words = len(toks)
    n_word_chars = len(re.sub(r"[ \t\n\x0b\x0c\r]", "", text))
    n_hash = text.count("#")
    n_ellipsis = len(re.findall(r"\.\.\.|…", text))
    n_lines = text.count("\n") + 1
    n_bullet = len(re.findall(r"(?m)^[-•*] ", text))
    n_ell_end = len(re.findall(r"(?m)(?:\.\.\.|…)$", text))
    n_alpha = sum(1 for t in toks if re.search(r"[A-Za-z]", t))
    stops = {
        t.lower() for t in toks if t.lower() in T.GOPHER_STOPWORDS
    }
    if n_words < 50 or n_words > 100000:
        return "word_count"
    if n_word_chars < 3 * n_words or n_word_chars > 10 * n_words:
        return "mean_word_len"
    if 10 * (n_hash + n_ellipsis) > n_words:
        return "symbol_ratio"
    if 10 * n_bullet > 9 * n_lines:
        return "bullet_lines"
    if 10 * n_ell_end > 3 * n_lines:
        return "ellipsis_lines"
    if 5 * n_alpha < 4 * n_words:
        return "alpha_words"
    if len(stops) < 2:
        return "stopwords"
    return None


def test_gopher_rules_property(spark):
    """Hypothesis: on arbitrary ASCII-ish texts (plus the non-ASCII
    bullet/ellipsis glyphs the rules name), the Spark rule chain agrees
    with the independent python transcription — pinning tokenizer,
    regex, and integer-threshold semantics, not just the 8 planted
    variants. One Spark job per example batch."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(
        alphabet="abcdeTHE.#…-*• 0123456789", min_size=0, max_size=12
    )
    chunk = st.sampled_from(
        ["the", "be", "to", "of", "and", "that", "have", "with",
         "...", "…", "# #", "- item", "• item", "\n", "  "]
    )
    doc = st.lists(st.one_of(word, chunk), min_size=0, max_size=120).map(
        " ".join
    )

    @given(st.lists(doc, min_size=1, max_size=25))
    @settings(max_examples=20, deadline=None)
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: r["reason"]
            for r in df.select(
                "doc_id",
                T.gopher_reason(T.gopher_signals(F.col("text"))).alias(
                    "reason"
                ),
            ).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == _gopher_reason_py(t), (repr(t), got[i])

    check()


def test_gopher_null_text_rejected(spark):
    """NULL text must fail the gate like empty text (word_count):
    without the coalesce, every rule comparison is NULL, the reason
    chain yields NULL, and gopher_keep (reason IS NULL) would PASS
    null-text rows the c4 gate drops."""
    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    got = df.select(
        T.gopher_reason(T.gopher_signals(F.col("text"))).alias("r"),
        T.gopher_keep(F.col("text")).alias("k"),
    ).collect()
    assert [(r["r"], r["k"]) for r in got] == [
        ("word_count", False),
        ("word_count", False),
    ]


def test_dsir_and_perplexity_empty_corpus(spark):
    """An empty corpus (e.g. a quality gate that dropped everything)
    must come back as an empty keep-frame with the right schema, not a
    float(None) TypeError from the NULL percentile threshold — the
    build_corpus funnel check raises ITS error after the stages run."""
    from tesseract_ocr_service_spark.operators import dsir as DS

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = DS.dsir_importance(empty, target=F.col("doc_id") % 2 == 0)
    assert out.count() == 0
    assert "keep" in out.columns
    out2 = DS.perplexity_filter(empty)
    assert out2.count() == 0
    assert "keep" in out2.columns


def test_batched_similarity_paths_preserve_id_type(spark):
    """The batched (mapInPandas) codebook-assign and LSH-banding paths
    must inherit the id column's type from the input: they are
    documented interchangeable with the expr paths, which preserve any
    id type — a hardcoded bigint would crash Arrow for string ids the
    moment assign='auto' switches implementations at K>32."""
    rows = [(f"doc-{i}", [float(i), 1.0, 0.0, 1.0]) for i in range(6)]
    embs = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>"
    )
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 1.0]]
    got = S.assign_codebook_batched(embs, cents)
    assert dict(got.dtypes)["id"] == "string"
    assert got.count() == 6
    planes = S.hyperplane_signs(8, 4, 7)
    banded = S.lsh_buckets_batched(
        embs.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("v")
        ),
        planes,
        bands=2,
    )
    assert dict(banded.dtypes)["id"] == "string"
    assert banded.count() == 12


def test_semantic_dedup_cap_stats_validates_assign(spark):
    """The cap-stats telemetry shares semantic_dedup's assign dispatch
    (one helper): an invalid mode must raise identically, never fall
    through to the wrong (plan-exploding at large K) expr path and
    report caps for an assignment the dedup never ran."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    with pytest.raises(ValueError, match="unknown assign mode"):
        S.semantic_dedup_cap_stats(df, cents, 10, assign="bathced")
    with pytest.raises(ValueError, match="unknown assign mode"):
        S.semantic_dedup(df, cents, assign="bathced")
