"""Corpus deduplication operators (exact, MinHash+LSH, SimHash, Jaccard).

No reference counterpart (Tika is per-document); these are the corpus
stages its extraction output feeds. Design targets ~10^12 documents:

- **Exact dedup** shuffles an 8-byte fingerprint, never the text.
- **MinHash+LSH** is the scale path for near-dup: signature build is a
  per-row projection (no shuffle); candidate generation shuffles only
  (band_id, band_hash, doc_id) triples; the verify join touches shingle
  sets only for candidate pairs (a tiny fraction of the corpus).
- **Blocked n-gram Jaccard** is the exact-verify primitive; its
  all-pairs form is for small blocks / oracles only — at scale it runs
  strictly behind LSH candidate generation.
- **SimHash** packs a 64-bit signature per doc (one vectorized pandas
  UDF, numpy bit-bucket accumulation per Arrow batch); candidates join
  on 16-bit chunks (any hamming<=3 pair shares an identical chunk by
  pigeonhole over 4 chunks).

All joins are equi-joins on small keys => sort-merge/AQE friendly; the
skew risk (a viral boilerplate shingle minhashing identically across
millions of docs) is bounded by ``max_bucket`` group-size capping,
mirroring the reference's zip-bomb guard philosophy
(sax/SecureContentHandler.java:65-80: bound adversarial blowup).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import LongType

from tika_spark.analysis.spread import spread_for_decode
from tika_spark.analysis.textstats import fingerprint, tokens, word_shingles


# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep the lowest-id row per exact (whitespace-normalized) text.

    Shuffle carries only (fp_64, fp_md5, id): the groupBy key is the
    64-bit fingerprint, md5 double-checks against xxhash collisions.
    """
    fp = fingerprint(df.select(id_col, text_col), text_col)
    w = Window.partitionBy("fp_64", "fp_md5").orderBy(F.asc(id_col))
    return (fp.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select(id_col, "fp_md5"))


# ------------------------------------------------------- n-gram jaccard


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays, as a native column
    expression (verify primitive for every near-dup path)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        threshold: float = 0.5,
                        block_cols: tuple[str, ...] = ()) -> DataFrame:
    """Near-dup pairs by exact k-word-shingle Jaccard >= threshold.

    ``block_cols`` restricts candidate pairs to equal blocking keys
    (e.g. ('lang',)); with no blocking this is all-pairs and suitable
    only for small inputs / oracle checks — the scale path is
    :func:`minhash_lsh_pairs`, which uses this same verify expression.

    Output: (id_a, id_b, sim_micro) with id_a < id_b; similarity is an
    exact integer (micro-units) so results hash identically everywhere.
    """
    sh = spread_for_decode(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        word_shingles(F.col(text_col), k).alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    sim = jaccard(F.col("a.sh"), F.col("b.sh"))
    return (a.join(b, cond)
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.round(sim * 1_000_000).cast("long")
                      .alias("sim_micro"))
             .filter(F.col("sim_micro") >= int(threshold * 1_000_000)))


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      threshold: float = 0.9,
                      max_postings: int = 200) -> DataFrame:
    """Asymmetric near-dup pairs by shingle containment
    ``|S(a) ∩ S(b)| / |S(a)|`` — catches documents that are
    (near-)SUBSETS of another (syndicated excerpts, quote pages,
    wrapper templates around a reused article), which symmetric
    Jaccard misses whenever the container is much larger than the
    contained (Broder 1997's second resemblance measure).

    Output: (id_a, id_b, inter, size_a, size_b, cont_a_micro,
    cont_b_micro) with id_a < id_b, kept when EITHER direction
    reaches ``threshold``; containments are integer micro-units
    (BIGINT floor division) so results hash identically everywhere.

    Scale path: candidates come from an inverted shingle index —
    shingles posted in more than ``max_postings`` documents are
    dropped (the stop-shingle cap, same recall-guard family as
    minhash_lsh_pairs' max_bucket: a qualifying pair is missed only
    if EVERY shared shingle is that common — then exact containment
    runs on candidate pairs only. One explode + groupBy(shingle),
    bounded pair fan-out per shingle, one equi-join back to the
    shingle arrays. Never an all-pairs join.
    """
    sh = spread_for_decode(df).select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), k).alias("sh"))
    posts = (sh.select(F.col("id"), F.explode("sh").alias("g"))
             .groupBy("g").agg(F.collect_set("id").alias("ids"))
             .filter((F.size("ids") >= 2)
                     & (F.size("ids") <= max_postings)))
    pairs = (posts.select(F.explode("ids").alias("id_a"), "ids")
             .select("id_a", F.explode("ids").alias("id_b"))
             .filter(F.col("id_a") < F.col("id_b"))
             .distinct())
    a = sh.alias("a")
    b = sh.alias("b")
    j = (pairs.join(a, pairs.id_a == F.col("a.id"))
         .join(b, pairs.id_b == F.col("b.id")))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    out = j.select(
        "id_a", "id_b", inter.cast("long").alias("inter"),
        F.size(F.col("a.sh")).cast("long").alias("size_a"),
        F.size(F.col("b.sh")).cast("long").alias("size_b"))
    out = (out
           .withColumn("cont_a_micro", F.expr(
               "CASE WHEN size_a > 0 THEN 1000000L * inter div size_a"
               " ELSE 0L END"))
           .withColumn("cont_b_micro", F.expr(
               "CASE WHEN size_b > 0 THEN 1000000L * inter div size_b"
               " ELSE 0L END")))
    thr = int(threshold * 1_000_000)
    return out.filter((F.col("cont_a_micro") >= thr)
                      | (F.col("cont_b_micro") >= thr))


# ---------------------------------------------------------- minhash lsh

# deterministic multipliers/offsets for the k hash permutations
# h_i(x) = (A_i * x + B_i) mod 2^31-1  over x = xxhash64(shingle) mod 2^31-1
# 31-bit domain keeps A*x + B <= ~2^62: no long overflow under ANSI mode
_MPRIME = (1 << 31) - 1


def _perm_consts(n: int, seed: int = 1):
    a, out = seed * 2654435761 % _MPRIME, []
    for _ in range(n):
        a = (a * 1103515245 + 12345) % _MPRIME
        b = (a * 69069 + 1) % _MPRIME
        out.append((a | 1, b))
    return out


def with_minhash_signature(df: DataFrame, text_col: str,
                           num_perm: int = 32, k: int = 3,
                           out_col: str = "sig",
                           keep_shingles: str | None = None) -> DataFrame:
    """Add a num_perm-wide MinHash signature column, fully native:
    shingle → xxhash64 → affine permutation → array_min per permutation.
    Per-row projection, zero shuffle, whole-stage codegen.

    Built as *staged* projections (shingles, then hashes, then the
    num_perm mins) rather than one nested expression: each stage's
    alias is expensive and referenced num_perm times, which stops
    Catalyst's CollapseProject from inlining it — the shingle set and
    its hashes are computed once per row, not once per permutation.
    """
    sh_col = keep_shingles or "__mh_sh"
    staged = (df
              .withColumn(sh_col, word_shingles(F.col(text_col), k))
              .withColumn("__mh_h", F.transform(
                  F.col(sh_col),
                  lambda s: F.pmod(F.xxhash64(s), F.lit(_MPRIME)))))
    mins = [F.array_min(F.transform(
                F.col("__mh_h"),
                lambda h: F.pmod(h * F.lit(a) + F.lit(b),
                                 F.lit(_MPRIME))))
            for (a, b) in _perm_consts(num_perm)]
    out = staged.withColumn(out_col, F.array(*mins)).drop("__mh_h")
    return out if keep_shingles else out.drop(sh_col)


def band_hashes(num_perm: int, bands: int,
                sig_col: str = "sig") -> Column:
    """Banded-LSH bucket hashes of a MinHash signature column: one
    xxhash64 per ``bands`` slice of ``num_perm // bands`` rows. Shared
    by the batch pair generator and the streaming bucket state so both
    land identical documents in identical buckets."""
    r = num_perm // bands
    return F.array(*[
        F.xxhash64(F.lit(bi), *[F.element_at(sig_col, bi * r + j + 1)
                                for j in range(r)])
        for bi in range(bands)])


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      num_perm: int = 32, bands: int = 8,
                      threshold: float = 0.5,
                      max_bucket: int = 1000) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified by exact
    shingle Jaccard. The standard s-curve: P(candidate) =
    1-(1-s^r)^bands with r = num_perm//bands rows per band.

    Stages (shuffle budget in parens):
      1. signature+shingles per row (none — projection)
      2. explode bands → hash 4-row slice → groupBy bucket (ids only)
      3. same-bucket pairs, capped at ``max_bucket`` ids per bucket
         (viral-content skew guard), distinct (small)
      4. verify join back to shingle sets for candidate ids only
    """
    base = with_minhash_signature(
        spread_for_decode(df.select(F.col(id_col).alias("id"),
                                    F.col(text_col))),
        text_col, num_perm, k, keep_shingles="sh").drop(text_col)
    # the signature+shingle pass feeds two branches (banding, verify
    # join); persist so it is computed once, not once per branch — at
    # crawl scale the signature pass dominates (MLlib-style internal
    # persist; evicted under memory pressure, safe either way)
    from pyspark import StorageLevel
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    buckets = (base.select("id", F.posexplode(
        band_hashes(num_perm, bands)).alias("band", "bhash")))
    grouped = (buckets.groupBy("band", "bhash")
               .agg(F.slice(F.sort_array(F.collect_list("id")), 1,
                            max_bucket).alias("ids"))
               .filter(F.size("ids") > 1))
    pairs = (grouped
             .select(F.explode("ids").alias("id_a"), "ids")
             .select("id_a", F.explode("ids").alias("id_b"))
             .filter(F.col("id_a") < F.col("id_b"))
             .distinct())
    sets = base.select("id", "sh")
    verified = (pairs
                .join(sets.select(F.col("id").alias("id_a"),
                                  F.col("sh").alias("sh_a")), "id_a")
                .join(sets.select(F.col("id").alias("id_b"),
                                  F.col("sh").alias("sh_b")), "id_b")
                .select("id_a", "id_b",
                        F.round(jaccard(F.col("sh_a"), F.col("sh_b"))
                                * 1_000_000).cast("long")
                        .alias("sim_micro")))
    return verified.filter(
        F.col("sim_micro") >= int(threshold * 1_000_000))


# -------------------------------------------------------------- simhash


# LongType() object (not a DDL string): executor-side module import
# must not require an active SparkContext for type parsing
@pandas_udf(LongType())
def _simhash64(words: pd.Series) -> pd.Series:
    """64-bit SimHash per document from its token array — one numpy
    pass per Arrow batch (vectorized over all tokens in the batch)."""
    import numpy as np
    out = np.zeros(len(words), dtype=np.int64)
    for i, toks in enumerate(words):
        if toks is None or len(toks) == 0:
            continue
        hs = np.fromiter(
            (hash64(w) for w in toks), dtype=np.uint64, count=len(toks))
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1)
        votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
        sig = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            sig |= np.uint64(1) << np.uint64(b)
        out[i] = np.int64(sig)
    return pd.Series(out)


def hash64(s: str) -> int:
    """Deterministic 64-bit FNV-1a (Python's hash() is salted per
    process — unusable across executors)."""
    h = 0xCBF29CE484222325
    for ch in s.encode("utf-8"):
        h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    return spread_for_decode(df).select(
        F.col(id_col).alias("id"),
        _simhash64(tokens(F.col(text_col))).alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  max_bucket: int = 1000) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the 64-bit signature into 4 × 16-bit
    chunks; any pair within hamming 3 agrees exactly on >=1 chunk, so an
    equi-join per chunk finds all of them — no cross join ever forms.

    Skew guards (the viral/empty-doc case, where millions of documents
    share one signature and a naive chunk self-join goes quadratic):

    1. **Identical signatures collapse first.** Signatures are grouped;
       each group emits star pairs (min-id representative → member,
       hamming 0) — linear in group size and sufficient for dedup
       connectivity — and only the representative enters the chunk join.
    2. **max_bucket cap** on each (chunk_idx, chunk) bucket of the
       remaining *distinct* signatures, same guard as
       :func:`minhash_lsh_pairs`.
    """
    sigs = simhash(df, id_col, text_col)
    groups = (sigs.groupBy("simhash")
              .agg(F.sort_array(F.collect_list("id")).alias("ids")))
    # hamming-0 star pairs: rep (lowest id) -> every other member
    dup_pairs = (groups.filter(F.size("ids") > 1)
                 .select(F.element_at("ids", 1).alias("id_a"),
                         F.explode(F.slice(
                             "ids", 2, F.size("ids") - 1)).alias("id_b"))
                 .withColumn("hamming", F.lit(0)))
    reps = groups.select(F.element_at("ids", 1).alias("id"), "simhash")
    chunks = reps.select(
        "id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("simhash", 16 * i).bitwiseAND(0xFFFF)
            for i in range(4)])).alias("chunk_idx", "chunk"))
    buckets = (chunks.groupBy("chunk_idx", "chunk")
               .agg(F.slice(F.sort_array(F.collect_list(
                   F.struct("id", "simhash"))), 1, max_bucket)
                   .alias("members"))
               .filter(F.size("members") > 1))
    cand = (buckets
            .select(F.explode("members").alias("a"), "members")
            .select("a", F.explode("members").alias("b"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    F.col("a.simhash").alias("sig_a"),
                    F.col("b.simhash").alias("sig_b"))
            .distinct())
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    near = (cand.withColumn("hamming", ham.cast("int"))
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))
    return dup_pairs.unionByName(near)


# ------------------------------------------------- connected components


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Cluster near-dup pairs into components: (id, cluster) with
    cluster = the component's minimum id. The canonical post-pair
    dedup step — keep one representative per cluster.

    Min-label propagation: each round every node takes the min label
    over itself and its neighbors; converges in O(component diameter)
    rounds. Near-dup graphs are star/clique-shaped (diameter 2-3), so
    a handful of rounds suffices; ``max_iter`` bounds pathological
    chains. Per round: one shuffle join + one groupBy — both keyed on
    ids only (never text), so the shuffle payload is 16 bytes/edge.

    100 TB notes: labels persist per round (MEMORY_AND_DISK) and the
    previous round unpersists — lineage stays one round deep, the
    convergence probe (``changed`` count) is the only action per
    round. Giant components (viral boilerplate) are exactly the
    buckets the pair generators already cap (``max_bucket``), so the
    join stays skew-safe.
    """
    from pyspark import StorageLevel

    edges = (pairs.select(F.col("id_a").alias("a"),
                          F.col("id_b").alias("b"))
             .union(pairs.select(F.col("id_b").alias("a"),
                                 F.col("id_a").alias("b")))
             .distinct())
    labels = (edges.select(F.col("a").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    for _ in range(max_iter):
        # neighbor labels: node a hears b's current label
        msgs = (edges.join(labels.withColumnRenamed("id", "b"), "b")
                .select(F.col("a").alias("id"), "label"))
        new_labels = (labels.unionByName(msgs)
                      .groupBy("id").agg(F.min("label").alias("label"))
                      .persist(StorageLevel.MEMORY_AND_DISK))
        changed = (labels.withColumnRenamed("label", "old")
                   .join(new_labels, "id")
                   .filter(F.col("old") != F.col("label")).count())
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    return labels.select("id", F.col("label").alias("cluster"))


def dedup_representatives(df: DataFrame, pairs: DataFrame,
                          id_col: str = "doc_id") -> DataFrame:
    """(id, cluster, is_rep) for EVERY document: paired docs get their
    component's min id, singletons are their own cluster. The keep-set
    is ``is_rep``; anti-joining it is the final dedup filter."""
    comp = connected_components(pairs)
    out = (df.select(F.col(id_col).alias("id"))
           .join(comp, "id", "left")
           .select("id", F.coalesce("cluster", F.col("id"))
                   .alias("cluster")))
    return out.withColumn("is_rep", F.col("id") == F.col("cluster"))


# --------------------------------------------- exact substring spans


def substring_dup_spans(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        min_docs: int = 2) -> DataFrame:
    """Exact duplicated-substring detection at k-token granularity
    (the scalable formulation of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": their suffix-array
    pass finds verbatim runs shared across documents; at cluster scale
    the standard approximation is positional k-token shingles, which
    finds every shared run of >= k tokens).

    Per document emits

      n_toks       whitespace token count
      n_dup_spans  maximal merged spans of duplicated shingles
      dup_tokens   token positions covered by those spans

    Pipeline (all native SQL, no UDFs):

      1. positional k-token shingles per doc (higher-order transform
         builds only the shingle *strings* -- HOF lambdas are
         interpreted, so the md5 + base-16 conv hash to 60-bit ints
         happens AFTER the explode, in a whole-stage-codegen'd
         projection; keeping them inside the lambda measured ~2x
         slower per core);
      2. corpus-wide duplicated-shingle set: hashes seen in >=
         ``min_docs`` distinct docs (distinct -> groupBy, 8-byte keys
         with map-side combine);
      3. join back on hash, keep duplicated positions only;
      4. per-doc span merge: sort_array(collect_list(pos)) + one
         ``aggregate`` fold -- overlapping/adjacent shingle windows
         [p, p+k) coalesce into maximal spans (gaps-and-islands as a
         per-row array expression, no window function).

    Scale: the shingle explode is corpus-token-count sized -- inherent
    to substring dedup (the suffix array costs the same) -- but every
    shuffled row is (id, pos, hash64): the text itself never moves.
    The duplicated-hash side of step 3's join is typically tiny (viral
    boilerplate) and broadcastable; positions collected per doc in
    step 4 are bounded by the doc's own token count. A hot shingle
    shared by millions of docs costs those docs one extra span each --
    no quadratic pair set is ever formed (unlike pair-generating
    dedup, this operator marks spans in place).
    """
    toks = tokens(F.col(text_col))
    base = (spread_for_decode(df.select(F.col(id_col), text_col))
            .select(F.col(id_col), toks.alias("w"))
            .withColumn("n_toks", F.size("w")))

    idx = F.when(F.col("n_toks") >= k,
                 F.sequence(F.lit(0), F.col("n_toks") - k)
                 ).otherwise(F.array().cast("array<int>"))
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, k)))
    # stage the shingle array (the MinHash CollapseProject lesson);
    # hash post-explode so md5/conv run codegen'd, not in the lambda
    staged = base.select(id_col, "n_toks", shingles.alias("ss"))
    sh = (staged.select(id_col, F.posexplode("ss").alias("pos", "s"))
          .select(id_col, "pos",
                  F.conv(F.substring(F.md5("s"), 1, 15), 16, 10)
                  .cast("long").alias("h")))
    # sh feeds two branches (duplicated-hash census, join-back);
    # persist so the tokenize+shingle+hash pass runs once, not twice —
    # (id, pos, h) rows, token-count scale, MEMORY_AND_DISK spill
    # (same MLlib-style internal persist as minhash_lsh_pairs)
    from pyspark import StorageLevel
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)

    dup_h = (sh.select(id_col, "h").distinct()
             .groupBy("h").agg(F.count("*").alias("n_docs"))
             .filter(F.col("n_docs") >= min_docs)
             .select("h"))

    merged = (sh.join(dup_h, "h")
              .groupBy(id_col)
              .agg(F.sort_array(F.collect_list("pos")).alias("ps")))
    # fold sorted positions into (n spans, covered tokens, open end)
    spans = F.aggregate(
        F.col("ps"),
        F.struct(F.lit(0).alias("n"), F.lit(0).alias("cov"),
                 F.lit(-1).alias("e")),
        lambda st, p: F.struct(
            (st["n"] + F.when(p >= st["e"], 1).otherwise(0)).alias("n"),
            (st["cov"] + F.when(p >= st["e"], F.lit(k))
             .otherwise(p + k - st["e"])).alias("cov"),
            (p + k).alias("e")))

    return (staged.select(id_col, "n_toks")
            .join(merged.select(
                id_col, spans["n"].alias("n_dup_spans"),
                spans["cov"].alias("dup_tokens")), id_col, "left")
            .select(F.col(id_col),
                    F.col("n_toks").cast("long").alias("n_toks"),
                    F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                    .alias("n_dup_spans"),
                    F.coalesce("dup_tokens", F.lit(0)).cast("long")
                    .alias("dup_tokens")))


def remove_dup_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 8,
                     min_docs: int = 2,
                     keep_first: bool = False) -> DataFrame:
    """The application half of :func:`substring_dup_spans`: rewrite
    each document with duplicated k-token spans REMOVED.

    Policies:
    - scrub-all (default): every occurrence of corpus-duplicated
      material goes (boilerplate/licence blocks vanish everywhere)
      — the C4-style viral-boilerplate treatment;
    - ``keep_first=True``: Lee et al. 2022's keep-one — per
      duplicated shingle hash, the globally first occurrence
      (min ``(id, pos)``, a total deterministic order) survives and
      every other occurrence is scrubbed. The election is a window
      over DUPLICATED shingle rows only (boilerplate-sized, not
      corpus-sized).

    Emits (id, n_toks, n_removed_tokens, text_dedup). Identical
    shingle/hash/census machinery as the detection op (same hashes,
    same ``min_docs``); the rebuild is per-row array expressions:
    covered = ∪ [p, p+k) over scrubbed shingle positions, kept
    tokens re-joined with single spaces (the operator's output is
    whitespace-normalized by construction — downstream of the same
    tokenization the whole curation layer uses).

    Scale: one extra join against the (tiny, broadcastable)
    duplicated-hash set and one groupBy collecting DUPLICATED
    positions per doc (bounded by the doc's own token count); the
    token arrays stay per-row — text shuffles only as the final
    output column, once.
    """
    toks = tokens(F.col(text_col))
    base = (spread_for_decode(df.select(F.col(id_col), text_col))
            .select(F.col(id_col), toks.alias("w"))
            .withColumn("n_toks", F.size("w")))
    idx = F.when(F.col("n_toks") >= k,
                 F.sequence(F.lit(0), F.col("n_toks") - k)
                 ).otherwise(F.array().cast("array<int>"))
    shingles = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, k)))
    staged = base.select(id_col, "w", "n_toks", shingles.alias("ss"))
    sh = (staged.select(id_col, F.posexplode("ss").alias("pos", "s"))
          .select(id_col, "pos",
                  F.conv(F.substring(F.md5("s"), 1, 15), 16, 10)
                  .cast("long").alias("h")))
    from pyspark import StorageLevel
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    dup_h = (sh.select(id_col, "h").distinct()
             .groupBy("h").agg(F.count("*").alias("n_docs"))
             .filter(F.col("n_docs") >= min_docs)
             .select("h"))
    dup_rows = sh.join(dup_h, "h")
    if keep_first:
        from pyspark.sql import Window
        w = (Window.partitionBy("h")
             .orderBy(F.asc(id_col), F.asc("pos")))
        dup_rows = (dup_rows
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") > 1).drop("_rn"))
    dup_pos = (dup_rows
               .groupBy(id_col)
               .agg(F.sort_array(F.collect_list("pos")).alias("ps")))
    out = staged.join(dup_pos, id_col, "left")
    covered = F.when(
        F.col("ps").isNotNull(),
        F.array_distinct(F.flatten(F.transform(
            "ps", lambda p: F.sequence(p, p + k - 1))))
    ).otherwise(F.array().cast("array<int>"))
    out = out.withColumn("_cov", covered)
    kept = F.filter(
        F.transform("w", lambda t, i: F.struct(t.alias("t"),
                                               i.alias("i"))),
        lambda s: ~F.array_contains(F.col("_cov"), s["i"]))
    return out.select(
        F.col(id_col),
        F.col("n_toks").cast("long").alias("n_toks"),
        F.size("_cov").cast("long").alias("n_removed_tokens"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))
        .alias("text_dedup"))
