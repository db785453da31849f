"""Deduplication operators for the LLM-data-pipeline surface (SURVEY.md
§2.J): exact, MinHash+LSH near-dup, SimHash.

100 TB design: nothing here ever cross-joins the corpus. Candidate
generation is banding + an equi-join on the band key -- join fan-out is
bounded by bucket sizes -- and only candidates pay the exact-Jaccard
verification.

There is ONE near-dup pipeline, near_duplicates_minhash: shingle once
into a persisted relation, grouped MinHash signatures, raw-tuple LSH
banding, exact-Jaccard verify. Its ``base_hash`` picks the per-shingle
base hash: xxhash64 (the engine default) or md5, which any engine can
replay -- the DuckDB oracle of the declared dedup_near re-runs the whole
pipeline from it.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles_expr, tokens_expr
from .caching import persist_bounded as _persist_bounded


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct text (deterministic, unlike
    dropDuplicates). One shuffle on the text hash."""
    w = Window.partitionBy(text_col).orderBy(id_col)
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop(
        "__rn"
    )


def doc_shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) exploded distinct word n-gram shingles per document."""
    return df.select(
        F.col(id_col),
        F.explode(shingles_expr(tokens_expr(), n)).alias("shingle"),
    )


_MERSENNE_31 = (1 << 31) - 1

#: Per-shingle base hashes (before the mod 2^31-1). md5 uses the first 32
#: digest bits -- the md5_int idiom of operators/sketches.py -- so any
#: engine with md5 + hex parsing computes the identical value.
_BASE_HASHES = {
    "xxhash64": F.xxhash64,
    "md5": lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
}


def _base_hash(name: str):
    if name not in _BASE_HASHES:
        raise ValueError(
            f"base_hash must be one of {sorted(_BASE_HASHES)}, got {name!r}"
        )
    return _BASE_HASHES[name]


def _perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash constants (a, b), a != 0, mod 2^31-1."""
    rng = random.Random(7)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_perm)
    ]


def minhash_signatures(
    shingled: DataFrame,
    num_perm: int = 32,
    id_col: str = "doc_id",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: one base hash per shingle, then
    num_perm universal-hash permutations sig_j = min((a_j*h + b_j) mod
    (2^31-1)) -- 1 hash + num_perm mul-adds per row instead of num_perm
    full hash calls. All arithmetic stays under 2^62 (ANSI mode on Spark 4
    makes silent wrap-around an error, so the classic overflow trick is
    off the table). One pass, one shuffle, map-side partial min."""
    h = F.pmod(_base_hash(base_hash)(F.col("shingle")), F.lit(_MERSENNE_31))
    aggs = [
        F.min(F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE_31))).alias(f"sig_{j}")
        for j, (a, b) in enumerate(_perm_constants(num_perm))
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def _banded(
    signatures: DataFrame, num_perm: int, bands: int, id_col: str, out_id: str
) -> DataFrame:
    """(out_id, band_id, band_key) -- one row per document and band, keyed
    on the RAW tuple of the band's rows_per_band signature slots (not a
    hash of it), so two documents share a bucket exactly when all slots of
    some band are equal: no hash-collision candidates, and plain SQL
    replays the banding as equi-joins (the dedup_near oracle)."""
    rows_per_band = num_perm // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.array(
                *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        F.col(id_col).alias(out_id), F.explode(F.array(*band_cols)).alias("band")
    ).select(out_id, "band.band_id", "band.band_key")


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding: split each signature into bands of rows_per_band
    slots, then self-join *within* (band_id, band_key) buckets ->
    candidate (a, b) pairs, a < b, distinct.

    Scale shape: explode to bands (xN rows), equi-join on the band key --
    fan-out bounded by bucket size; skewed buckets (boilerplate text) split
    by AQE skew-join. Never a corpus cross-join.
    """
    a = _banded(signatures, num_perm, bands, id_col, "id_a")
    b = _banded(signatures, num_perm, bands, id_col, "id_b")
    return (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_jaccard(
    candidates: DataFrame, shingled: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for candidate pairs only: join each side's shingle set,
    count intersections, divide by union size."""
    counts = shingled.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    sa = shingled.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingled.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        candidates.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ).alias("jaccard"),
        )
    )


def near_duplicates_minhash(
    df: DataFrame,
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-dup pairs (id_a < id_b, jaccard >= threshold):
    shingle -> grouped minhash -> raw-tuple banding -> bucket-join ->
    exact-Jaccard verify -> threshold filter.

    ``base_hash`` is "xxhash64" (default: one JVM hash call per shingle)
    or "md5" (replayable by other engines; the oracle-checked dedup_near
    uses it). Anything else raises ValueError.

    The shingle relation feeds three consumers (signatures + both sides of
    the verify join), so it is shingled ONCE and persisted -- without it
    Spark re-scans and re-shingles the corpus per consumer. At 100 TB the
    same role is played by materializing shingles to a parquet staging
    table. Why grouped signatures and not an in-row (zero-shuffle) fold
    with candidate-only verification: the verify join needs the shingle
    relation anyway, and on the benchmark's llm_curation pass
    (perfbench/, traced seed 7) the grouped form runs 69 Spark jobs per
    pass against 98 for the in-row form."""
    _base_hash(base_hash)
    # Documents with fewer than shingle_n tokens have no shingles, so
    # dropping them changes nothing -- and IsNotNull(text) reaches the scan.
    df = df.where(F.col("text").isNotNull() & (F.size(tokens_expr()) >= shingle_n))
    # Fan the (narrow) doc rows across all cores before the wide explode --
    # a single-row-group parquet file otherwise pins shingling to one task.
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    shingled = _persist_bounded("minhash_shingled", doc_shingles(df, n=shingle_n))
    sigs = minhash_signatures(shingled, num_perm=num_perm, base_hash=base_hash)
    cands = lsh_candidate_pairs(sigs, num_perm=num_perm, bands=bands)
    return verify_jaccard(cands, shingled).where(F.col("jaccard") >= threshold)


def near_duplicates_incremental(
    new_docs: DataFrame,
    corpus_shingled: DataFrame,
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Continuous-ingest near-dup: check NEW documents against an EXISTING
    corpus without re-hashing the corpus. ``corpus_shingled`` is the stored
    (id, shingle) relation (at 100 TB: a parquet staging table maintained
    by the ingest pipeline; signatures/bands derive from it once per batch).

    Returns (id_a=corpus doc, id_b=new doc) pairs over the threshold. The
    corpus side is touched only through band-bucket joins + candidate
    verification -- cost scales with the new batch, not the corpus.
    """
    new_shingled = _persist_bounded(
        "incremental_new_shingled", doc_shingles(new_docs, n=shingle_n)
    )
    new_sigs = minhash_signatures(new_shingled, num_perm=num_perm)
    corpus_sigs = minhash_signatures(corpus_shingled, num_perm=num_perm)
    cands = (
        _banded(corpus_sigs, num_perm, bands, "doc_id", "id_a")
        .join(_banded(new_sigs, num_perm, bands, "doc_id", "id_b"), ["band_id", "band_key"])
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    both = corpus_shingled.unionByName(new_shingled)
    return verify_jaccard(cands, both).where(F.col("jaccard") >= threshold)


def simhash_signatures(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document over distinct tokens, emitted as two
    32-bit halves (simhash_lo = bits 0..31, simhash_hi = bits 32..63) to
    stay in non-negative long range.

    Per token: h = xxhash64(token); bit i contributes +1 if set else -1;
    signature bit i = (sum_i > 0). Single explode + one groupBy with 64
    conditional-sum expressions (map-side partial aggregation).
    """
    tok = df.select(F.col(id_col), F.explode(F.array_distinct(tokens_expr())).alias("token"))
    h = F.xxhash64(F.col("token"))
    sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{i}")
        for i in range(64)
    ]
    agg = tok.groupBy(id_col).agg(*sums)
    lo = None
    hi = None
    for i in range(32):
        bit_lo = F.when(F.col(f"s_{i}") > 0, F.lit(1 << i)).otherwise(0)
        bit_hi = F.when(F.col(f"s_{i + 32}") > 0, F.lit(1 << i)).otherwise(0)
        lo = bit_lo if lo is None else lo + bit_lo
        hi = bit_hi if hi is None else hi + bit_hi
    return agg.select(
        id_col, lo.cast("long").alias("simhash_lo"), hi.cast("long").alias("simhash_hi")
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word n-gram
    with the benchmark set (the train/test-overlap gate every training-data
    pipeline runs before shipping a corpus).

    Shape: shingle both sides, semi-join on the shingle (inverted index --
    candidates meet through shared shingles, never a cross join), left join
    the flag back. The benchmark side is small in practice -> its distinct
    shingle set broadcasts; corpus-side shingling streams.

    n=4 suits the synthetic fixture (near-zero natural 8-gram overlap);
    production decontamination uses 8-13-gram windows on the same plumbing.
    """
    bsh = doc_shingles(benchmark, n=n, id_col=id_col).select("shingle").distinct()
    csh = doc_shingles(corpus, n=n, id_col=id_col)
    flagged = (
        csh.join(F.broadcast(bsh), "shingle")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return corpus.join(flagged, id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


def jaccard_prefix_candidates(
    shingled: DataFrame, threshold: float = 0.5, id_col: str = "doc_id"
) -> DataFrame:
    """AllPairs/PPJoin-style prefix filtering (Bayardo et al., WWW'07;
    Xiao et al., WWW'08): order each document's shingle set by ascending
    global document frequency (rarest first); any two sets with
    Jaccard >= t MUST share a shingle within each one's first
    |set| - ceil(t * |set|) + 1 entries. Index ONLY those prefixes and
    generate candidates from the prefix inverted index.

    Why this is the scale move over the full inverted-index self-join:
    (a) the index shrinks to the prefix fraction (~(1-t) of entries);
    (b) the hottest shingles -- the skewed posting lists that dominate the
    full join's fan-out -- sort LAST and rarely land in any prefix, so the
    worst buckets never generate candidates; (c) the companion length
    filter (t*|A| <= |B|) prunes cross-size pairs before verification.
    Exact, not approximate: recall is 100% by the prefix lemma (pinned in
    pytest against the full-index join)."""
    gdf = shingled.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = shingled.join(gdf, "shingle").select(
        F.col(id_col),
        "shingle",
        F.row_number()
        .over(
            Window.partitionBy(id_col).orderBy("df", "shingle")
        )
        .alias("pos"),
        F.count("*").over(Window.partitionBy(id_col)).alias("n"),
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    )
    pa = prefix.select(
        F.col(id_col).alias("id_a"), "shingle",
        F.col("n").alias("n_a"), F.col("pos").alias("pos_a"),
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"), "shingle",
        F.col("n").alias("n_b"), F.col("pos").alias("pos_b"),
    )
    # PPJoin positional filter (Xiao et al., WWW'08 §3.2): a pair meeting
    # at prefix positions (pos_a, pos_b) can share at most
    # 1 + min(n_a - pos_a, n_b - pos_b) shingles, and Jaccard >= t needs
    # overlap >= t/(1+t) * (n_a + n_b). Keeping the pair if ANY meeting
    # passes is a superset of PPJoin's candidate set => still exact, but
    # it prunes INSIDE the bucket join, before the distinct shuffle --
    # on the sf1 degenerate-vocab corpus this is the difference between
    # a quadratic candidate blow-up and a bounded one (637s -> measured
    # below; see SCALE.md).
    min_overlap = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("n_a") + F.col("n_b"))
    )
    ubound = 1 + F.least(
        F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")
    )
    return (
        pa.join(pb, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter: Jaccard >= t forces t*|A| <= |B| <= |A|/t
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a"))
            & (F.col("n_a") >= F.lit(threshold) * F.col("n_b"))
            & (ubound >= min_overlap)
        )
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_join_prefix(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact threshold Jaccard self-join via prefix filtering: candidates
    from jaccard_prefix_candidates, then exact verification over the full
    shingle sets. Identical output to the full inverted-index join at the
    same threshold -- only the candidate-generation strategy differs."""
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    shingled = _persist_bounded(
        "jaccard_prefix_shingled", doc_shingles(docs, n=shingle_n)
    )
    cands = jaccard_prefix_candidates(shingled, threshold=threshold, id_col=id_col)
    return verify_jaccard(cands, shingled, id_col=id_col).where(
        F.col("jaccard") >= threshold
    )
