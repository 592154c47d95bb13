"""Unit tests for the training-data pipeline layer
(tika_spark.analysis: textstats / dedup / similarity / multimodal)."""

import pyspark.sql.functions as F
import pytest

from tika_spark.analysis import dedup, multimodal, similarity, textstats

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "en"),
    (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
    (3, "the quick brown fox jumps over the lazy cat today", "en"),  # near
    (4, "completely different words about spark and arrow batches", "en"),
    (5, "der schnelle braune fuchs springt heute sehr weit", "de"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "lang"]).cache()


def test_quality_features_exact(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! 42 the end.")], ["doc_id", "text"])
    row = textstats.quality_features(df).first()
    assert row["n_chars_text"] == 25
    assert row["n_tokens"] == 5
    assert row["n_alpha"] == 16          # Helloworldtheend
    assert row["n_digit"] == 2
    assert row["n_punct"] == 3           # , ! .  (two dots? no: , ! . .)
    assert row["n_stopwords"] == 1       # 'the'
    assert row["max_token_len"] == 6     # 'Hello,'


def test_quality_punct_count(spark):
    df = spark.createDataFrame([(1, "a.b.c!")], ["doc_id", "text"])
    assert textstats.quality_features(df).first()["n_punct"] == 3


def test_token_count_and_fingerprint(docs_df):
    out = textstats.fingerprint(
        textstats.with_token_count(docs_df)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_tokens"] == 9
    assert by_id[1]["fp_md5"] == by_id[2]["fp_md5"]
    assert by_id[1]["fp_md5"] != by_id[3]["fp_md5"]
    assert by_id[1]["fp_64"] == by_id[2]["fp_64"]


def test_word_topk_deterministic(docs_df):
    top = textstats.word_topk(docs_df, k=3).collect()
    assert top[0]["word"] == "the" and top[0]["n"] == 6
    # ties broken alphabetically
    assert [r["word"] for r in top] == sorted(
        [r["word"] for r in top],
        key=lambda w: (-dict((x["word"], x["n"]) for x in top)[w], w))


def test_outlinks_and_summary(spark):
    df = spark.createDataFrame(
        [(1, "see http://a.com/x and https://b.org/y.")],
        ["doc_id", "text"])
    row = textstats.summary(textstats.outlinks(df)).first()
    assert row["outlinks"] == ["http://a.com/x", "https://b.org/y."]
    assert row["summary"].startswith("see http")


def test_exact_dedup(docs_df):
    kept = dedup.exact_dedup(docs_df)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {1, 3, 4, 5}  # doc 2 deduped against doc 1


def test_ngram_jaccard_pairs(docs_df):
    pairs = dedup.ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(1, 2), (1, 3),
                                                       (2, 3)}
    exact = [p for p in pairs if (p["id_a"], p["id_b"]) == (1, 2)][0]
    assert exact["sim_micro"] == 1_000_000


def test_minhash_lsh_recall(docs_df):
    # identical + high-jaccard docs must surface as LSH candidates
    pairs = dedup.minhash_lsh_pairs(docs_df, threshold=0.3)
    got = {(p["id_a"], p["id_b"]) for p in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) in got
    # verified sims must equal exact jaccard (same verify primitive)
    exact = {(p["id_a"], p["id_b"]): p["sim_micro"]
             for p in dedup.ngram_jaccard_pairs(
                 docs_df, threshold=0.3).collect()}
    for p in pairs.collect():
        key = (p["id_a"], p["id_b"])
        if key in exact:
            assert p["sim_micro"] == exact[key]


def test_simhash_pairs(docs_df):
    pairs = dedup.simhash_pairs(docs_df, max_hamming=3).collect()
    got = {(p["id_a"], p["id_b"]): p["hamming"] for p in pairs}
    assert got[(1, 2)] == 0  # identical text → identical signature


def test_simhash_identical_skew_is_linear(spark):
    # 10k identical docs share one signature; the naive chunk self-join
    # would form ~50M candidate pairs. The identical-signature collapse
    # must emit exactly n-1 star pairs (rep -> member, hamming 0).
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("exactly the same boilerplate text body").alias("text"))
    pairs = dedup.simhash_pairs(df, max_hamming=3).collect()
    assert len(pairs) == n - 1
    assert all(p["id_a"] == 0 and p["hamming"] == 0 for p in pairs)


def test_simhash_short_doc_pairs_capped(spark):
    # sub-k-token/empty docs also collapse via identical signatures
    df = spark.createDataFrame(
        [(i, "") for i in range(100)] + [(1000, "x y z unique words")],
        ["doc_id", "text"])
    pairs = dedup.simhash_pairs(df, max_hamming=0).collect()
    assert len(pairs) == 99


def test_simhash_deterministic_hash():
    assert dedup.hash64("spark") == dedup.hash64("spark")
    assert dedup.hash64("spark") != dedup.hash64("sparks")


@pytest.fixture(scope="module")
def emb_df(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)], 0)
            for i in range(20)]
    rows.append((100, rows[0][1], 1))  # exact duplicate of vec 0
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_brute_force_topk_self_first(emb_df):
    q = emb_df.filter(F.col("vec_id") == 0)
    top = similarity.brute_force_topk(emb_df, q, k=3).collect()
    assert top[0]["rank"] == 1 and top[0]["vec_id"] == 0
    assert top[0]["sim_micro"] == 1_000_000
    # vec 11 (i*7 ≡ 0 mod 11) and vec 100 are exact duplicates of vec 0;
    # ties break on vec_id ascending
    assert [r["vec_id"] for r in top] == [0, 11, 100]
    assert all(r["sim_micro"] == 1_000_000 for r in top)


def test_brute_force_topk_query_cap(emb_df, monkeypatch):
    # the query side is collected to the driver: an oversized query
    # set must be an explicit ValueError, not a silent OOM path
    monkeypatch.setattr(similarity, "MAX_BRUTE_QUERIES", 5)
    with pytest.raises(ValueError, match="MAX_BRUTE_QUERIES"):
        similarity.brute_force_topk(emb_df, emb_df, k=3)
    # at the cap exactly, still fine
    monkeypatch.setattr(similarity, "MAX_BRUTE_QUERIES", 21)
    assert similarity.brute_force_topk(
        emb_df, emb_df, k=1).count() == 21


def test_coarse_probes_matches_l2_argsort(emb_df):
    import numpy as np
    centers = [[float(j % 3) for j in range(8)],
               [float(-(j % 2)) for j in range(8)],
               [0.5] * 8, [5.0] * 8]
    got = {r.query_id: [] for r in emb_df.select("vec_id")
           .withColumnRenamed("vec_id", "query_id").collect()}
    rows = similarity._coarse_probes(emb_df, centers, nprobe=2)
    for r in rows.collect():
        got[r.query_id].append(r.cluster)
    cm = np.asarray(centers)
    for r in emb_df.collect():
        q = np.asarray(r.embedding, dtype=np.float64)
        d2 = ((q[None, :] - cm) ** 2).sum(axis=1)
        want = list(np.argsort(d2, kind="stable")[:2])
        assert got[r.vec_id] == want, r.vec_id


def test_cosine_pairs_finds_duplicate(emb_df):
    pairs = similarity.cosine_pairs(emb_df, threshold=0.999).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    # every (i, i+11) is an exact dup by construction, plus the planted 100
    assert {(0, 11), (0, 100), (11, 100), (1, 12), (8, 19)} <= got
    assert all(p["sim_micro"] >= 999_000 for p in pairs)


def test_lsh_topk_contains_duplicate(emb_df):
    q = emb_df.filter(F.col("vec_id") == 0)
    top = similarity.lsh_topk(emb_df, q, dim=8, k=3).collect()
    ids = [r["vec_id"] for r in top]
    assert 0 in ids and 100 in ids  # same bucket by construction


def test_ivf_topk_recall(emb_df):
    # exact duplicates land in the same KMeans cell → IVF finds them
    q = emb_df.filter(F.col("vec_id") == 0)
    top = similarity.ivf_topk(emb_df, q, k=3, nlist=4, nprobe=1).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 0 and 100 in ids and 11 in ids
    assert all(r["sim_micro"] == 1_000_000 for r in top)


def test_pq_topk_finds_exact_duplicates(emb_df):
    # exact duplicates encode to identical PQ codes → identical ADC
    # scores → all three land in the shortlist; the exact re-rank then
    # pins rank order and sim_micro == 1.0 for each
    q = emb_df.filter(F.col("vec_id") == 0)
    top = similarity.pq_topk(emb_df, q, k=3, m=4, ks=4, refine=4).collect()
    ids = [r["vec_id"] for r in top]
    assert ids == [0, 11, 100]
    assert all(r["sim_micro"] == 1_000_000 for r in top)


def test_ivfpq_topk_finds_exact_duplicates(emb_df):
    # IVF probe keeps the duplicates' cluster; identical PQ codes give
    # identical ADC; the exact re-rank pins order and sim_micro
    q = emb_df.filter(F.col("vec_id") == 0)
    top = similarity.ivfpq_topk(emb_df, q, k=3, nlist=4, nprobe=2,
                                m=4, ks=4, refine=4).collect()
    ids = [r["vec_id"] for r in top]
    assert ids == [0, 11, 100]
    assert all(r["sim_micro"] == 1_000_000 for r in top)


def test_ivfpq_prebuilt_index_reused(emb_df):
    # passing (ivf, pq) indexes skips retraining and yields the same
    # result as the self-training path
    q = emb_df.filter(F.col("vec_id") == 0)
    ivf = similarity.ivf_index(emb_df, nlist=4)
    pq = similarity.pq_index(emb_df, m=4, ks=4)
    a = similarity.ivfpq_topk(emb_df, q, k=3, nlist=4, nprobe=2,
                              m=4, ks=4, index=(ivf, pq)).collect()
    b = similarity.ivfpq_topk(emb_df, q, k=3, nlist=4, nprobe=2,
                              m=4, ks=4, refine=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_index_code_shape(emb_df):
    codes, books = similarity.pq_index(emb_df, m=4, ks=4)
    rows = codes.collect()
    assert len(rows) == emb_df.count()
    assert all(len(r["codes"]) == 4 for r in rows)
    assert all(0 <= c < 4 for r in rows for c in r["codes"])
    # duplicates share codes
    by_id = {r["vec_id"]: r["codes"] for r in rows}
    assert by_id[0] == by_id[100] == by_id[11]
    assert len(books) == 4 and all(len(b) <= 4 for b in books)
    assert all(len(c) == 2 for b in books for c in b)  # 8/4 dims each


def test_lsh_signature_deterministic(spark, emb_df):
    s1 = emb_df.select(similarity.lsh_signature(
        F.col("embedding"), 8).alias("s")).collect()
    s2 = emb_df.select(similarity.lsh_signature(
        F.col("embedding"), 8).alias("s")).collect()
    assert [r["s"] for r in s1] == [r["s"] for r in s2]


def test_decode_media_plumbing(spark):
    import struct
    import zlib
    ihdr = struct.pack(">II", 320, 200) + b"\x08\x02\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + chunk
           + struct.pack(">I", zlib.crc32(chunk)))
    df = spark.createDataFrame(
        [(1, png, "image/png"),              # real header parse
         (2, b"y" * 50, "audio/wav"),        # no reader -> fake tier
         (3, None, "video/mp4"),             # empty -> fake tier
         (4, b"x" * 100, "image/png")],      # corrupt header -> error row
        "id long, payload binary, media_type string")
    out = {r["id"]: r for r in multimodal.decode_media(df).collect()}
    assert (out[1]["width"], out[1]["height"]) == (320, 200)
    assert out[1]["status"] == "ok"
    assert out[2]["duration_ms"] == 50       # audio fake: duration = n
    assert out[3]["n_bytes"] == 0 and out[3]["status"] == "ok"
    assert out[4]["status"] == "error"
    assert multimodal.MEDIA_META_SCHEMA.startswith("id long")


def test_mp3_duration_estimate():
    # MPEG1 Layer III, 128kbps header: FF FB 90 00; 16000 bytes -> 1s
    frame = b"\xff\xfb\x90\x00" + b"\x00" * 15996
    assert multimodal._mp3_duration_ms(frame) == 1000
    assert multimodal.header_decode(frame, "audio/mpeg")[
        "duration_ms"] == 1000


def test_real_decode_tiers():
    from tika_spark.analysis.isobmff import mp4_h264_frames
    from tika_spark.analysis.pcm import audio_decoders, decode_audio
    from tika_spark.analysis.pixels import image_decoders
    # Formats with a from-scratch decoder reject garbage loudly...
    with pytest.raises(ValueError):
        image_decoders()["image/png"](b"")
    with pytest.raises(ValueError):
        image_decoders()["image/jpeg"](b"")
    with pytest.raises(ValueError):       # the MP4 frame route
        mp4_h264_frames(b"")
    # ...and a type no decoder table holds is refused, not guessed
    unknown = "video/x-msvideo-unknown"
    assert unknown not in image_decoders()
    assert unknown not in audio_decoders()
    with pytest.raises(ValueError, match="no audio decoder"):
        decode_audio(b"RIFF", unknown)


def test_minhash_lsh_catches_every_qualifying_pair_sf001(spark):
    """Pins the sf0.01 corpus property: every pair with exact shingle
    Jaccard >= 0.12 is found by the seeded LSH banding (this corpus's
    qualifying pairs sit at s >= 0.9 where the s-curve is ~1). This
    holds by CORPUS LUCK, not by construction — the sf0.1 corpus has
    two pairs at s = 0.125/0.136 with capture probability ~0.2%,
    which is why the driver oracle (dedup_minhash_lsh) pins the
    deterministic-capture regime at threshold 0.5 instead. If sf0.01
    testdata ever gains a mid-band pair, this fails loudly here
    rather than as a driver hash mismatch."""
    import os

    import duckdb

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        import pytest
        pytest.skip("testdata not present")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {(r["id_a"], r["id_b"])
           for r in dedup.minhash_lsh_pairs(docs, threshold=0.12)
           .collect()}
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    want = {tuple(r) for r in con.execute(r"""
        WITH s AS (SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(w)-2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
          FROM (SELECT doc_id,
                regexp_split_to_array(trim(text), '\s+') AS w
                FROM documents))
        SELECT a.doc_id, b.doc_id FROM s a
        JOIN s b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh)))
          >= 0.12""").fetchall()}
    assert got == want


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation: a 4-chain (diameter 3) and a triangle
    collapse to their min ids; singleton edges keep their own pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                   # single edge
        "id_a long, id_b long")
    got = {(r["id"], r["cluster"])
           for r in dedup.connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (12, 10),
                   (20, 20), (21, 20)}


def test_dedup_representatives_covers_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)],
                                 "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_a long, id_b long")
    rows = {r["id"]: (r["cluster"], r["is_rep"])
            for r in dedup.dedup_representatives(docs, pairs).collect()}
    assert rows == {0: (0, True), 1: (1, True), 2: (2, True),
                    3: (1, False), 4: (4, True), 5: (1, False)}


def test_asof_join_semantics(spark):
    """ASOF <=: latest right row at-or-before each left ts per key;
    same-instant right rows match; keys with no prior row get NULL;
    tolerance nulls stale matches."""
    import datetime as dt

    from tika_spark.analysis.relational import asof_join
    t0 = dt.datetime(2024, 1, 1)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    right = spark.createDataFrame(
        [(1, m(0), "a"), (1, m(10), "b"), (2, m(5), "x")],
        "user_id long, ts timestamp, profile string")
    left = spark.createDataFrame(
        [(100, 1, m(4)),    # -> a
         (101, 1, m(10)),   # same instant -> b
         (102, 1, m(99)),   # -> b
         (103, 2, m(4)),    # before any snap -> NULL
         (104, 3, m(4))],   # unknown key -> NULL
        "event_id long, user_id long, ts timestamp")
    got = {r["event_id"]: r["profile"]
           for r in asof_join(left, right, "user_id", "ts").collect()}
    assert got == {100: "a", 101: "b", 102: "b", 103: None, 104: None}

    tol = {r["event_id"]: r["profile"]
           for r in asof_join(left, right, "user_id", "ts",
                              tolerance="30 MINUTE").collect()}
    assert tol[102] is None      # 89 min stale
    assert tol[100] == "a"


def test_range_join_bucketed_equi(spark):
    """Bucketed range join equals the naive theta-join, including
    intervals spanning multiple buckets and boundary-inclusive ends."""
    import datetime as dt

    from tika_spark.analysis.relational import range_join
    t0 = dt.datetime(2024, 1, 1)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    events = spark.createDataFrame(
        [(i, 1 + i % 2, m(7 * i)) for i in range(40)],
        "event_id long, user_id long, ts timestamp")
    intervals = spark.createDataFrame(
        [(100, 1, m(0), m(30)),      # within one hour bucket
         (101, 2, m(50), m(200)),    # spans 3+ hourly buckets
         (102, 1, m(500), m(510))],  # empty
        "interval_id long, user_id long, start timestamp, end timestamp")
    got = {(r["interval_id"], r["event_id"])
           for r in range_join(events, intervals, key="user_id")
           .collect()}
    want = set()
    for iid, uid, s, e in [(100, 1, 0, 30), (101, 2, 50, 200),
                           (102, 1, 500, 510)]:
        for i in range(40):
            if 1 + i % 2 == uid and s <= 7 * i <= e:
                want.add((iid, i))
    assert got == want and len(got) > 0


def test_cap_per_group(spark):
    from pyspark.sql import functions as F

    from tika_spark.analysis.textstats import cap_per_group
    rows = [(i, f"h{i % 3}", 100 - i) for i in range(30)]
    df = spark.createDataFrame(rows,
                               "doc_id long, source string, n_chars long")
    got = cap_per_group(df, "source", 5)
    assert got.count() == 15
    per = {r["source"]: r["n"] for r in
           got.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert set(per.values()) == {5}
    # ranked by n_chars desc -> the lowest doc_ids survive
    kept = {r["doc_id"] for r in got.filter("source='h0'").collect()}
    assert kept == {0, 3, 6, 9, 12}


def test_stratified_sample_deterministic(spark):
    from tika_spark.analysis.textstats import stratified_sample
    rows = [(i, "en" if i % 2 else "de") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    a = {r["doc_id"] for r in
         stratified_sample(df, "lang", {"en": 0.5, "de": 0.2}).collect()}
    b = {r["doc_id"] for r in
         stratified_sample(df, "lang", {"en": 0.5, "de": 0.2}).collect()}
    assert a == b and 0 < len(a) < 200
    # rate monotonicity: a higher rate is a superset of a lower one
    c = {r["doc_id"] for r in
         stratified_sample(df, "lang", {"en": 0.9, "de": 0.5}).collect()}
    assert a <= c


def test_assign_splits_bands(spark):
    import hashlib

    from tika_spark.analysis.textstats import (assign_splits,
                                               split_thresholds)
    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {r.doc_id: r.split
           for r in assign_splits(df, fr).collect()}
    # pure function of md5(key): replay in python
    bands = split_thresholds(fr)
    for i in range(300):
        d = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        exp = next((n for n, t in bands if d < t), "unassigned")
        assert got[i] == exp
    # deterministic across calls; roughly proportional
    n_train = sum(1 for v in got.values() if v == "train")
    assert 200 < n_train < 290
    assert got == {r.doc_id: r.split
                   for r in assign_splits(df, fr).collect()}


def test_assign_splits_salt_rerolls(spark):
    from tika_spark.analysis.textstats import assign_splits
    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    fr = {"train": 0.5, "test": 0.5}
    a = {r.doc_id: r.split for r in assign_splits(df, fr).collect()}
    b = {r.doc_id: r.split
         for r in assign_splits(df, fr, salt="v2").collect()}
    assert a != b        # a salt change re-rolls assignments
    assert set(a.values()) == {"train", "test"}


def test_assign_splits_partial_fractions(spark):
    from tika_spark.analysis.textstats import assign_splits
    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    got = assign_splits(df, {"train": 0.2})
    vals = {r.split for r in got.collect()}
    assert vals == {"train", "unassigned"}


def test_bpe_token_count(spark):
    from pyspark.sql import functions as F

    from tika_spark.analysis.textstats import bpe_token_count
    df = spark.createDataFrame(
        [("It's a test, with 42 numbers!",), ("",), (None,)],
        "text string")
    got = [r[0] for r in
           df.select(bpe_token_count(F.col("text"))).collect()]
    # It|'s| a| test|,| with| 42| numbers|!
    assert got[0] == 9
    assert got[1] == 0


def test_winnow_fingerprints(spark):
    from tika_spark.analysis.textstats import winnow_fingerprints
    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu nu xi omicron pi rho sigma tau upsilon")
    # rewrite a 6-word middle run: some window then consists solely of
    # changed shingles (its min must change), while either side keeps
    # a shared run >= w+k-1 = 6 words (a fingerprint must be shared)
    edited = base.replace("iota kappa lambda mu nu xi",
                          "one two three four five six")
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, edited), (4, "too short")],
        "doc_id long, text string")
    got = winnow_fingerprints(df)
    by = {i: {r["fp"] for r in rows} for i, rows in
          ((i, got.filter(F.col("doc_id") == i).collect())
           for i in (1, 2, 3, 4))}
    assert by[1] == by[2] and by[1]          # identical docs agree
    # a single-word edit perturbs some but not all fingerprints
    assert by[1] & by[3]
    assert by[1] != by[3]
    assert by[4] == set()                     # < k+w-1 tokens -> none


# ------------------------------------------------------------ SemDeDup


def test_semdedup_kmeans_prunes_within_cluster(spark):
    """Two tight semantic groups + one outlier: each group keeps its
    min-id member, the outlier survives (Abbas et al. 2023 shape)."""
    rows = []
    for i in range(4):          # group A: near-identical around e0
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0]))
    for i in range(4, 8):       # group B: near-identical around e1
        rows.append((i, [0.0, 1.0, 0.01 * (i - 4), 0.0]))
    rows.append((8, [0.0, 0.0, 0.0, 1.0]))  # outlier
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    out = {r["id"]: r["keep"] for r in
           similarity.semdedup(df, threshold=0.95, nlist=3).collect()}
    assert out[0] and out[4] and out[8]          # representatives
    assert not any(out[i] for i in (1, 2, 3, 5, 6, 7))


def test_semdedup_argmax_matches_bruteforce_within_cluster(spark):
    """The argmax quantizer path: same-dominant-component dups prune;
    vectors dominating different components never compare."""
    df = spark.createDataFrame(
        [(1, [9.0, 1.0]), (2, [9.0, 1.0]),     # same cluster, identical
         (3, [1.0, 9.0]), (4, [1.0, 9.0])],    # other cluster
        "vec_id long, embedding array<double>")
    out = {r["id"]: (r["cluster"], r["keep"]) for r in
           similarity.semdedup(df, threshold=0.99,
                               quantizer="argmax").collect()}
    assert out[1] == (1, True) and out[2] == (1, False)
    assert out[3] == (2, True) and out[4] == (2, False)


def test_semdedup_max_cluster_caps_skew(spark):
    """A single hot cluster sub-shards at max_cluster: the job stays
    linear per shard and every row still gets a keep verdict."""
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0]) for i in range(300)],
        "vec_id long, embedding array<double>")
    out = similarity.semdedup(df, threshold=0.99, quantizer="argmax",
                              max_cluster=50)
    rows = out.collect()
    assert len(rows) == 300
    kept = [r["id"] for r in rows if r["keep"]]
    # one representative per sub-shard (ceil(300/50)=6 shards), not 1,
    # and crucially not 300: the cap bounds work, the prune still ran
    assert 1 <= len(kept) <= 6


# ------------------------------------------------------------ BM25


def test_bm25_scores_pinned(spark):
    """Okapi BM25 against hand-computed values (k1=1.2, b=0.75)."""
    import math
    df = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog dog dog dog"), (3, "bird")],
        "doc_id long, text string")
    out = {r["id"]: r["score_micro"] for r in
           textstats.bm25_scores(df, "cat").collect()}
    # N=3, df(cat)=1, avgdl=(3+4+1)/3; doc1: tf=2, dl=3
    n, dfc, avgdl = 3.0, 1.0, 8.0 / 3.0
    idf = math.log((n - dfc + 0.5) / (dfc + 0.5) + 1.0)
    tf, dl = 2.0, 3.0
    s1 = idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
    assert out == {1: round(s1 * 1_000_000)}


def test_bm25_multi_term_and_case(spark):
    """Multi-term queries sum per-term scores; matching is
    case-insensitive; repeated query terms count once."""
    df = spark.createDataFrame(
        [(1, "Alpha beta"), (2, "beta beta"), (3, "gamma")],
        "doc_id long, text string")
    one = {r["id"]: r["score_micro"] for r in
           textstats.bm25_scores(df, "ALPHA alpha").collect()}
    assert set(one) == {1}
    both = {r["id"]: r["score_micro"] for r in
            textstats.bm25_scores(df, "alpha beta").collect()}
    assert set(both) == {1, 2}
    assert both[1] > one[1]  # the beta term adds score


def test_bm25_empty_query_matches_nothing(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert textstats.bm25_scores(df, "   ").count() == 0


def test_substring_spans_match_bruteforce_reference(spark):
    """Randomized corpus (seeded): the distributed operator agrees
    with a direct per-doc Python computation of duplicated-span
    merging."""
    import random
    rng = random.Random(42)
    vocab = ["w%d" % i for i in range(12)]  # tiny vocab -> collisions
    texts = {i: " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 15)))
             for i in range(120)}
    k = 3

    def shingles(t):
        toks = t.split()
        return [tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)]

    docs_of = {}
    for i, t in texts.items():
        for s in shingles(t):
            docs_of.setdefault(s, set()).add(i)
    expected = {}
    for i, t in texts.items():
        toks = t.split()
        pos = [p for p, s in enumerate(shingles(t))
               if len(docs_of[s]) >= 2]
        n_spans = cov = 0
        end = -1
        for p in pos:
            if p >= end:
                n_spans += 1
                cov += k
            else:
                cov += p + k - end
            end = p + k
        expected[i] = (len(toks) if t.split() else len(t.split()),
                       n_spans, cov)

    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()],
        "doc_id long, text string").repartition(7)
    got = {r["doc_id"]: (r["n_toks"], r["n_dup_spans"], r["dup_tokens"])
           for r in dedup.substring_dup_spans(df, k=k).collect()}
    for i in texts:
        n_toks = len(texts[i].split())
        # empty text tokenizes to one '' token in Spark's split(trim)
        want_toks = max(n_toks, 1)
        assert got[i] == (want_toks, expected[i][1], expected[i][2]), i


def test_pack_sequences_matches_reference(spark):
    import random
    from tika_spark.analysis.curation import pack_sequences
    rng = random.Random(7)
    rows = [("g%d" % (i % 4), i, "t " * rng.randint(1, 30))
            for i in range(150)]
    budget = 40
    expected = {}
    for gname in {r[0] for r in rows}:
        chunk, acc = 0, budget
        for _, i, t in sorted((r for r in rows if r[0] == gname),
                              key=lambda r: r[1]):
            nt = len(t.split())
            if acc + nt <= budget:
                acc += nt
            else:
                chunk += 1
                acc = nt
            expected[i] = chunk
    df = spark.createDataFrame(
        rows, "source string, doc_id long, text string").repartition(9)
    got = {r["doc_id"]: r["chunk"] for r in
           pack_sequences(df, budget=budget).collect()}
    assert got == expected


def test_curation_cli_runner(spark, tmp_path):
    """The corpus-layer batch driver writes one parquet dir per op."""
    import argparse

    from tika_spark.analysis.runner import run

    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "s%d" % (i % 2), "some words here %d" % (i % 5))
         for i in range(20)],
        "doc_id long, source string, text string").write.parquet(inp)
    args = argparse.Namespace(threshold=0.5, k=3, budget=16)
    out = str(tmp_path / "out")
    written = run(spark, inp, out, ["dedup-exact", "pack", "mixture"],
                  args)
    assert set(written) == {"dedup-exact", "pack", "mixture"}
    assert spark.read.parquet(written["dedup-exact"]).count() == 5
    assert spark.read.parquet(written["pack"]).count() == 20
    assert spark.read.parquet(written["mixture"]).count() == 2


def test_hash_embed_deterministic_and_additive(spark):
    """hash_embed: deterministic, order-independent, and empty/short
    text yields the zero vector."""
    from tika_spark.analysis.textstats import hash_embed
    rows = [(1, "hello world"), (2, "hello world"), (3, ""), (4, "ab")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = hash_embed(df, dim=4).collect()
    by = {}
    for r in out:
        by.setdefault(r["id"], {})[r["dim"]] = r["val"]
    assert by[1] == by[2]                      # identical text
    assert set(by[1].keys()) == {0, 1, 2, 3}
    assert all(v == 0 for v in by[3].values())  # no 3-grams
    assert all(v == 0 for v in by[4].values())
    # each coordinate is a signed count bounded by the gram count
    n_grams = len("hello world") - 2
    assert all(abs(v) <= n_grams for v in by[1].values())
    assert any(v != 0 for v in by[1].values())


def test_hash_embed_dim_bounds(spark):
    from tika_spark.analysis.textstats import hash_embed
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    import pytest as _pt
    with _pt.raises(ValueError):
        hash_embed(df, dim=17)
    with _pt.raises(ValueError):
        hash_embed(df, dim=0)


def test_remove_dup_spans_scrubs_shared_runs(spark):
    from tika_spark.analysis.dedup import remove_dup_spans
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 toks
    rows = [(0, f"unique zero head {shared} unique zero tail"),
            (1, f"{shared} one distinct ending of words"),
            (2, "entirely distinct third document with plenty words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           remove_dup_spans(df, k=8, min_docs=2).collect()}
    assert got[0].text_dedup == "unique zero head unique zero tail"
    assert got[1].text_dedup == "one distinct ending of words"
    assert got[2].text_dedup == rows[2][1]
    assert got[0].n_removed_tokens == 8
    assert got[2].n_removed_tokens == 0


def test_remove_dup_spans_overlapping_windows_merge(spark):
    from tika_spark.analysis.dedup import remove_dup_spans
    # 10 shared tokens -> three overlapping 8-shingles, one 10-token
    # covered range (not 24)
    shared = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, f"{shared} xx"), (1, f"yy {shared}")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           remove_dup_spans(df, k=8, min_docs=2).collect()}
    assert got[0].n_removed_tokens == 10
    assert got[0].text_dedup == "xx"
    assert got[1].text_dedup == "yy"


def test_remove_dup_spans_short_docs_passthrough(spark):
    from tika_spark.analysis.dedup import remove_dup_spans
    df = spark.createDataFrame([(0, "too short"), (1, "too short")],
                               "doc_id long, text string")
    got = {r.doc_id: r.text_dedup
           for r in remove_dup_spans(df, k=8).collect()}
    assert got == {0: "too short", 1: "too short"}


def test_remove_dup_spans_keep_first_election(spark):
    from tika_spark.analysis.dedup import remove_dup_spans
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(0, f"{shared} zero unique ending words"),
            (1, f"one head words {shared}"),
            (2, f"two other head {shared}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           remove_dup_spans(df, k=8, min_docs=2,
                            keep_first=True).collect()}
    # doc 0 holds the globally first occurrence -> untouched
    assert got[0].text_dedup == rows[0][1]
    assert got[0].n_removed_tokens == 0
    assert got[1].text_dedup == "one head words"
    assert got[2].text_dedup == "two other head"


def test_corpus_report_composition(spark):
    from tika_spark.analysis.textstats import corpus_report
    df = spark.createDataFrame(
        [(1, "aa bb", "en", "s1"), (2, "cc", "en", "s2"),
         (3, "dd ee ff", "fr", "s1")],
        "doc_id long, text string, lang string, source string")
    rows = {(r.metric, r.grp): r.value
            for r in corpus_report(df).collect()}
    assert rows[("docs_total", "all")] == 3
    assert rows[("tokens_total", "all")] == 6
    assert rows[("docs_by_lang", "en")] == 2
    assert rows[("chars_by_lang", "en")] == 7
    assert rows[("avg_chars_by_lang_micro", "en")] == 3_500_000
    assert rows[("docs_by_source", "s1")] == 2
    assert rows[("tokens_by_source", "s1")] == 5


class TestTfidfKeywords:
    def test_rare_term_outranks_common(self, spark):
        from tika_spark.analysis.textstats import tfidf_keywords
        df = spark.createDataFrame(
            [(1, "common zebra common common"),
             (2, "common common yak"),
             (3, "common filler words here")],
            "doc_id long, text string")
        out = {(r.id, r.rk): r for r in
               tfidf_keywords(df, k=2).collect()}
        # doc 1: zebra (df=1) beats common (df=3, idf=0)
        assert out[(1, 1)].term == "zebra"
        assert out[(1, 1)].tf == 1
        assert out[(1, 2)].term == "common"
        assert out[(1, 2)].score_micro == 0  # idf ln(4/4)=0

    def test_min_len_filter_and_k_cut(self, spark):
        from tika_spark.analysis.textstats import tfidf_keywords
        df = spark.createDataFrame(
            [(1, "ab cd longword another third fourth")],
            "doc_id long, text string")
        rows = tfidf_keywords(df, k=3).collect()
        assert len(rows) == 3
        assert all(len(r.term) >= 3 for r in rows)
        # ties (all tf=1, same idf) break by term asc
        assert [r.term for r in sorted(rows, key=lambda r: r.rk)] == \
            sorted([r.term for r in rows])[:3]


class TestContainmentPairs:
    def test_excerpt_detected_jaccard_would_miss(self, spark):
        from tika_spark.analysis.dedup import containment_pairs
        body = " ".join(f"w{i}" for i in range(100))
        excerpt = " ".join(f"w{i}" for i in range(20))
        df = spark.createDataFrame(
            [(1, body), (2, excerpt), (3, "other text entirely here")],
            "doc_id long, text string")
        rows = containment_pairs(df, threshold=0.9).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.id_a, r.id_b) == (1, 2)
        # excerpt fully contained: 18 of its 18 shingles
        assert r.cont_b_micro == 1_000_000
        # the container direction is far below threshold (98 shingles)
        assert r.cont_a_micro == 1_000_000 * 18 // 98

    def test_stop_shingle_cap_drops_ubiquitous_candidates(self, spark):
        from tika_spark.analysis.dedup import containment_pairs
        # 5 identical docs; cap 4 < postings 5 -> no candidates at all
        df = spark.createDataFrame(
            [(i, "a b c d e f") for i in range(5)],
            "doc_id long, text string")
        assert containment_pairs(df, max_postings=4).count() == 0
        assert containment_pairs(df, max_postings=5).count() == 10

    def test_short_docs_never_pair(self, spark):
        from tika_spark.analysis.dedup import containment_pairs
        df = spark.createDataFrame(
            [(1, "one two"), (2, "one two")],
            "doc_id long, text string")
        assert containment_pairs(df).count() == 0


def test_curation_cli_argparse_has_no_conflicts(spark, tmp_path):
    """main()'s parser must BUILD (a duplicate option string raises at
    definition time — regression: --budget was declared twice; --help
    exits after the parser exists, before any Spark session), and the
    round-4 ops run end-to-end through run()."""
    import argparse

    import pytest as _pytest

    from tika_spark.analysis.runner import main, run

    with _pytest.raises(SystemExit) as exc:
        main(["--help"])
    assert exc.value.code == 0

    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "words appear here often %d" % (i % 3))
         for i in range(12)],
        "doc_id long, text string").write.parquet(inp)
    out = str(tmp_path / "out")
    # query term '2' hits only the i%3==2 docs (idf > 0; a term in
    # every doc has idf 0 and scores nothing)
    args = argparse.Namespace(k=2, threshold=0.9, query="2")
    written = run(spark, inp, out,
                  ["tfidf-keywords", "best-passage",
                   "dedup-containment"], args)
    got = spark.read.parquet(written["tfidf-keywords"])
    assert got.count() == 24  # 12 docs x k=2
    assert spark.read.parquet(written["best-passage"]).count() > 0


class TestSpreadForDecode:
    """Round-5 parallelism guard: narrow inputs fan out to cluster
    parallelism before decode-heavy mapInPandas stages; already-wide
    inputs keep the exchange-free plan."""

    def test_narrow_input_spreads(self, spark):
        from tika_spark.analysis.spread import spread_for_decode
        df = spark.range(100).coalesce(1) \
            .selectExpr("id", "cast(id as string) AS payload")
        out = spread_for_decode(df, "id")
        assert out.rdd.getNumPartitions() \
            == spark.sparkContext.defaultParallelism
        assert out.count() == 100

    def test_wide_input_untouched(self, spark):
        from tika_spark.analysis.spread import spread_for_decode
        target = spark.sparkContext.defaultParallelism
        df = spark.range(100).repartition(target + 4)
        out = spread_for_decode(df, "id")
        # no extra exchange: partitioning preserved
        assert out.rdd.getNumPartitions() == target + 4
