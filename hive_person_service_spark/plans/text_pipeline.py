"""§2.J -- text-analysis + deduplication pipeline over the documents table:
exact dedup, n-gram-Jaccard near-dup (oracle-checked), MinHash-LSH and
SimHash (rows-only; pytest self-verifies against brute force), term
frequency, TF-IDF, language stats, language-ID heuristic, quality scoring,
token counting, content fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_expr
from ..operators.dedup import (
    doc_shingles,
    exact_dedup,
    simhash_signatures,
)
from ..sources import load_table
from .registry import declare


@declare(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup keeping the lowest doc_id per distinct text (real
    duplicates exist at sf0.1: 5000 rows / 4992 distinct)."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d).select("doc_id", "lang", "source", "n_chars")


@declare(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (SELECT doc_id, str_split(text, ' ') AS tokens FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest([array_to_string(tokens[i:i+2], ' ')
                     FOR i IN range(1, greatest(len(tokens) - 1, 1))]) AS shingle
      FROM tok),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 6) AS jaccard
    FROM pairs
    JOIN cnt ca ON id_a = ca.doc_id
    JOIN cnt cb ON id_b = cb.doc_id
    WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (>= 0.5). Candidate pairs
    meet through the shared-shingle join (inverted index), never a cross
    join -- the same shape LSH approximates at 100 TB. The shingle set
    feeds three branches (both self-join sides + per-doc counts); persisting
    it computes the tokenize/explode/distinct once instead of three times
    (measured ~2x at sf0.1; at scale it also keeps the three consumers on
    one shuffle lineage)."""
    from ..operators.caching import persist_bounded

    d = load_table(spark, sf_dir, "documents")
    shingled = persist_bounded("ngram_jaccard_shingled", doc_shingles(d, n=3))
    pairs = (
        shingled.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(
            shingled.select(F.col("doc_id").alias("id_b"), "shingle"),
            on="shingle",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    counts = shingled.groupBy("doc_id").agg(F.count("*").alias("n"))
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .where(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def _minhash_lsh_oracle(num_perm: int = 32, bands: int = 8) -> str:
    """DuckDB SQL replaying the ENTIRE md5-MinHash-LSH pipeline: shingles
    -> md5-derived base hash -> the same universal-hash permutation mins
    (identical (a, b) constants) -> raw-tuple banding as equi-joins ->
    exact-Jaccard verify on candidates. Because every stage is
    deterministic arithmetic, the oracle checks WHICH pairs banding
    surfaces, not just a recall-probabilistic superset -- the same
    engine-reproducible-state trick the deterministic sketches use."""
    from ..operators.dedup import _MERSENNE_31 as M
    from ..operators.dedup import _perm_constants

    consts = _perm_constants(num_perm)
    rows_per_band = num_perm // bands
    sig_exprs = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {M}) AS s{j}"
        for j, (a, b) in enumerate(consts)
    )
    band_joins = "\n        UNION ALL\n".join(
        "        SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a "
        "JOIN sig b ON a.doc_id < b.doc_id AND "
        + " AND ".join(
            f"a.s{band * rows_per_band + r} = b.s{band * rows_per_band + r}"
            for r in range(rows_per_band)
        )
        for band in range(bands)
    )
    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest([array_to_string(t[i:i+2], ' ')
                     FOR i IN range(1, greatest(len(t) - 1, 1))]) AS shingle
      FROM tok),
    h AS (
      SELECT doc_id,
             shingle,
             CAST(('0x' || substr(md5(shingle), 1, 8))::UBIGINT
                  % {M} AS BIGINT) AS h
      FROM sh),
    sig AS (
      SELECT doc_id,
             {sig_exprs}
      FROM h GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT id_a, id_b FROM (
{band_joins}
      )),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ver AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS shared
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 6) AS jaccard
    FROM ver
    JOIN cnt ca ON id_a = ca.doc_id
    JOIN cnt cb ON id_b = cb.doc_id
    WHERE ROUND(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 6) >= 0.7
    """


@declare("dedup_near", oracle=_minhash_lsh_oracle())
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (threshold 0.7): the 100 TB near-dup
    path -- banding + bucket join bounds candidate generation; exact Jaccard
    is verified for candidates only. Runs the one near-dup pipeline
    (operators/dedup.py::near_duplicates_minhash) with base_hash="md5",
    the base hash the DuckDB oracle can replay, so the oracle checks the
    full pipeline -- including which pairs raw-tuple banding surfaces --
    not just a recall-probabilistic superset. pytest pins recall against
    brute force and the subset property independently."""
    from ..operators.dedup import near_duplicates_minhash

    d = load_table(spark, sf_dir, "documents")
    return near_duplicates_minhash(d, threshold=0.7, base_hash="md5")


@declare("dedup_cluster", oracle=None)  # rows-only: LSH + iterative CC
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: MinHash-LSH pairs -> connected components ->
    (doc_id, canon, keep). The full pipeline a training-data run executes;
    group purity is pytest-verified on the real sf0.1 duplicates. Pairs
    come from near_duplicates_minhash with its default xxhash64 base
    hash."""
    from ..operators.clustering import dedup_groups
    from ..operators.dedup import near_duplicates_minhash

    d = load_table(spark, sf_dir, "documents")
    pairs = near_duplicates_minhash(d, threshold=0.9)
    return dedup_groups(d.select("doc_id"), pairs)


@declare("dataset_split", oracle=None)  # rows-only: Spark-hash based
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment per document (hash-bucket
    split; reproducibility and disjointness pytest-pinned)."""
    from ..operators.splits import hash_split

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    splits = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    out = None
    for name, df in splits.items():
        tagged = df.select("doc_id", F.lit(name).alias("split"))
        out = tagged if out is None else out.unionByName(tagged)
    return out


@declare("dedup_simhash", oracle=None)  # rows-only: verified by pytest
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures per document (two 32-bit halves).
    Identical texts -> identical signatures; near-dups -> small Hamming
    distance. pytest pins both properties."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_signatures(d)


@declare(
    "text_term_freq",
    oracle="""
    SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 100
    """,
)
def text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies + document frequency, top-100 (deterministic
    tie-break on token)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens_expr()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(100)
    )


@declare(
    "text_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tf) t
           GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf,
           ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    WHERE tf.doc_id < 100
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF per (doc, token): tf * (ln((N+1)/(df+1)) + 1).
    df and N computed over the full corpus; output bounded to doc_id < 100.
    Composable shape: one explode, two aggregates; the vocabulary df
    relation joins back un-hinted (web-scale vocab can exceed broadcast
    limits -- AQE picks broadcast when it fits), only the 1-row corpus
    total is broadcast."""
    d = load_table(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(tokens_expr()).alias("token"))
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )


@declare(
    "text_lang_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS len_ok
    FROM documents GROUP BY lang
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats + n_chars==length(text) invariant check."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(
            F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0)
        ).alias("len_ok"),
    )


@declare(
    "text_langid",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
                WHEN regexp_matches(text, '[äöüß]') THEN 'de'
                WHEN regexp_matches(text, '[éèêàçœ]') THEN 'fr'
                WHEN regexp_matches(text, '[ñ¿¡áíó]') THEN 'es'
                ELSE 'en' END AS predicted
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class language-ID heuristic (script/diacritic n-gram
    detector). A real model would be a broadcast n-gram table + the same
    expression shape."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        F.when(F.col("text").rlike("[一-鿿]"), "zh")
        .when(F.col("text").rlike("[äöüß]"), "de")
        .when(F.col("text").rlike("[éèêàçœ]"), "fr")
        .when(F.col("text").rlike("[ñ¿¡áíó]"), "es")
        .otherwise("en")
        .alias("predicted"),
    )


@declare(
    "text_quality",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS len,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_uniq,
           ROUND(CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
                 / len(str_split(text, ' ')), 6) AS uniq_ratio,
           CAST(list_max(list_transform(str_split(text, ' '), t -> length(t)))
                AS BIGINT) AS max_token_len,
           ROUND((length(text) - len(str_split(text, ' ')) + 1.0)
                 / len(str_split(text, ' ')), 6) AS mean_token_len
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals per document: length, token count, unique-
    token ratio (repetition detector), max/mean token length."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_expr()
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("len"),
        n_tokens.cast("long").alias("n_tokens"),
        n_uniq.cast("long").alias("n_uniq"),
        F.round(n_uniq.cast("double") / n_tokens, 6).alias("uniq_ratio"),
        F.array_max(F.transform(toks, F.length)).cast("long").alias("max_token_len"),
        F.round(
            (F.length("text") - n_tokens + F.lit(1.0)) / n_tokens, 6
        ).alias("mean_token_len"),
    )


@declare(
    "text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est,
           CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + the chars/4 BPE-token estimate
    (the standard pre-tokenizer budget heuristic)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens_expr()).cast("long").alias("ws_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("bpe_est"),
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
        .cast("long")
        .alias("n_spaces"),
    )


@declare(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' '))
             AS bow_fp,
           substr(md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')),
                  1, 8) AS bow_fp8
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set (catches shuffled-word duplicates that exact dedup misses)."""
    d = load_table(spark, sf_dir, "documents")
    canon = F.concat_ws(" ", F.sort_array(F.array_distinct(tokens_expr())))
    return d.select(
        "doc_id",
        F.md5(canon).alias("bow_fp"),
        F.substring(F.md5(canon), 1, 8).alias("bow_fp8"),
    )


@declare(
    "text_decontaminate",
    oracle="""
    WITH tok AS (SELECT doc_id, str_split(text, ' ') AS tokens FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest([array_to_string(tokens[i:i+3], ' ')
                     FOR i IN range(1, greatest(len(tokens) - 2, 1))]) AS shingle
      FROM tok),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 = 0),
    flagged AS (
      SELECT DISTINCT s.doc_id AS doc_id
      FROM sh s JOIN bench b USING (shingle)
      WHERE s.doc_id % 100 <> 0)
    SELECT d.doc_id, (f.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN flagged f USING (doc_id)
    WHERE d.doc_id % 100 <> 0
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (train/test overlap gate): corpus docs
    sharing any word 4-gram with the held-out benchmark set (doc_id % 100
    == 0 stands in for an eval suite) get flagged. Inverted-index semi-join
    on shingles -- operators/dedup.py::contamination_flags."""
    from ..operators.dedup import contamination_flags

    d = load_table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 100 == 0)
    corpus = d.where(F.col("doc_id") % 100 != 0)
    return contamination_flags(corpus, bench, n=4).select(
        "doc_id", "contaminated"
    )


@declare("docs_pack", oracle=None)  # rows-only: partition-local greedy
def docs_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents greedily packed into 512-token training
    sequences (whitespace token counts; operators/packing.py). pytest pins
    budget compliance, exactly-once membership, and determinism."""
    from ..functions.text import tokens_expr
    from ..operators.packing import pack_documents

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_expr()).cast("long").alias("n_tokens")
    )
    return pack_documents(d, budget=512)
