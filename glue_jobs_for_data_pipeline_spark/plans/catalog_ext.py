"""Extension catalog: training-data pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing, streaming) as queries()
entries, oracle-checked wherever ANSI SQL can express the semantics.

Registered into the same QUERIES/ORACLE dicts as the reference-parity
catalog. Keys are prefixed x_*.

Oracle notes (all verified empirically against DuckDB 1.0):
- higher-order folds (aggregate/list_reduce), per-row double arithmetic
  and sequential dot products are bit-identical across engines;
- minhash/simhash/LSH use Spark's xxhash64 (not available in DuckDB) ->
  rows-only driver check; their statistical correctness is covered by
  property tests in tests/ instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators import dedup, multimodal, similarity
from ..sources.readers import load_table, spread
from ..sources.readers import scratch_dir as _scratch_dir
from ..streaming.events import run_stream_to_batch, sessionize_stateful
from .catalog import _M1_DELTA_SQL, _q


def _pq_rows(sf_dir: str, table: str) -> int | None:
    """EXACT row count of a source fixture parquet from its footer(s) —
    driver-side metadata, no Spark job (~0.3 s of collect-path overhead
    saved per .count(); r19). None on any failure — callers fall back
    to a Spark count."""
    import os

    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if not os.path.isdir(path):
            # a missing fixture must be None (unknown), not a
            # confident 0 — os.walk on a missing path yields nothing
            # and a wrong 0 would corrupt k / row-count assertions
            # (ADVICE r19)
            return None
        n = 0
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
        return n
    except Exception:  # noqa: BLE001 — optional fast path only
        return None


def _cat_rows(cat, spark, name: str) -> int:
    """Committed row count of a catalog table: parquet-footer fast path
    (Catalog.table_rows), Spark count fallback. Exact either way —
    schema ops never change row counts."""
    n = cat.table_rows(name)
    return n if n is not None else cat.read(spark, name).count()

# _scratch_dir: per-invocation, SPARK_GRAFT_SCRATCH_ROOT-rooted staging
# (sources/readers.py::scratch_dir — the single primitive; a fixed path
# races, ADVICE r04/r14; cleanup deferred to atexit, ADVICE r05)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

_STOP = tx.STOPWORDS_EN[0].split()
_SQL_TOKENS = r"string_split_regex(trim({x}), '\s+')"
_SQL_STOPHITS = (
    "len(list_filter(" + _SQL_TOKENS.format(x="lower({x})") + ", t -> t IN ({lst})))"
)


def _sql_in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


_X_TEXT_STATS_SQL = f"""
SELECT doc_id,
       CAST(len({_SQL_TOKENS.format(x='text')}) AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}')) AS INTEGER) AS n_bpeish,
       CAST(length(text) AS INTEGER) AS n_chars,
       length(regexp_replace(text, '[^.,;:!?''\"()\\-]', '', 'g'))
         / greatest(length(text), 1) AS punct_ratio
FROM documents
"""


@_q("x_text_stats", _X_TEXT_STATS_SQL)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + size stats, all codegen'd JVM expressions."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        tx.token_count(t).alias("n_tokens"),
        tx.bpeish_token_count(t).alias("n_bpeish"),
        tx.char_count(t).alias("n_chars"),
        tx.punct_ratio(t).alias("punct_ratio"),
    )


_QUALITY_EXPR = f"""(
  0.4 * least(len({_SQL_TOKENS.format(x='text')}) / 100.0, 1.0)
+ 0.3 * (1.0 - least(
    (length(regexp_replace(text, '[^.,;:!?''\"()\\-]', '', 'g'))
     / greatest(length(text), 1)) * 5, 1.0))
+ 0.3 * least(({_SQL_STOPHITS.format(x='text', lst=_sql_in_list(_STOP))}
     / greatest(len({_SQL_TOKENS.format(x='text')}), 1)) * 4, 1.0))"""

_X_QUALITY_SQL = f"SELECT doc_id, {_QUALITY_EXPR} AS quality FROM documents"


@_q("x_text_quality", _X_QUALITY_SQL)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length/punctuation/stopword heuristics)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))


def _lang_case_expr() -> str:
    score = {
        lang: _SQL_STOPHITS.format(x="text", lst=_sql_in_list(words.split()))
        for lang, words in tx.LANG_STOPWORDS.items()
    }
    whens = []
    for lang in tx.LANG_ORDER:
        others = " , ".join(score[o] for o in tx.LANG_ORDER if o != lang)
        whens.append(
            f"WHEN {score[lang]} > 0 AND {score[lang]} >= greatest({others}) "
            f"THEN '{lang}'"
        )
    return (
        "CASE WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) > 0 THEN 'zh' "
        + " ".join(whens)
        + " ELSE 'und' END"
    )


@_q("x_text_lang_id", f"SELECT doc_id, {_lang_case_expr()} AS lang_pred FROM documents")
def x_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: CJK codepoint detection + stopword argmax."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", tx.lang_id(F.col("text")).alias("lang_pred"))


_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_X_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5({_NORM_SQL}) AS content_fp,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(regexp_extract_all({_NORM_SQL}, '.'),
                          c -> CAST(ascii(c) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007) AS rolling_fp
FROM documents
"""


@_q("x_text_fingerprint", _X_FINGERPRINT_SQL)
def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text + polynomial rolling
    hash (both engine-portable, verified bit-equal)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        tx.content_fingerprint(F.col("text")).alias("content_fp"),
        tx.rolling_hash(F.col("text")).alias("rolling_fp"),
    )


_X_PII_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{tx.PII_EMAIL}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{tx.PII_IPV4}')) AS INTEGER)
         AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{tx.PII_EMAIL}', '<EMAIL>', 'g'),
           '{tx.PII_IPV4}', '<IP>', 'g'),
         '{tx.PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM documents
"""


@_q("x_text_pii_redact", _X_PII_SQL)
def x_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: count + redact emails / IPv4
    / phone-like digit runs with a pure regexp_replace chain (codegen'd,
    scan-pipelined). Patterns live in the Java-regex ∩ RE2 subset so the
    identical strings run in both engines; redaction order fixed and
    placeholders digit-free so the chain composes identically."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        tx.pii_count(t, tx.PII_EMAIL).alias("n_emails"),
        tx.pii_count(t, tx.PII_IPV4).alias("n_ips"),
        tx.redact_pii(t).alias("redacted"),
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@_q(
    "x_dedup_exact",
    f"SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies FROM documents "
    f"GROUP BY md5({_NORM_SQL})",
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via 16-byte fingerprint groupBy (shuffles hashes, not
    documents)."""
    return dedup.exact_dedup(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


# ONE copy of the trigram-Jaccard arithmetic (tokenize -> distinct
# shingles -> df<=100 cap -> inverted-index self-join -> |AuB| formula),
# shared by the pair query, both cluster queries, and the split-leakage
# audit — divergent copies of this CTE chain would let an operator
# regression green against one oracle while redding another. `scored`
# carries (doc_a, doc_b, inter, jaccard); `pairs` applies {th}.
_JACCARD_CTES_T = r"""
w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
posts0 AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 3, 0) + 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM w WHERE len(w) >= 3),
posts AS (
  SELECT doc, shingle FROM (
    SELECT doc, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM posts0)
  WHERE df <= 100),
sizes AS (SELECT doc, COUNT(*) AS sz FROM posts GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
  FROM posts a JOIN posts b USING (shingle)
  WHERE a.doc < b.doc GROUP BY 1, 2),
scored AS (
  SELECT doc_a, doc_b, inter,
         CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b),
pairs AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= {th})
"""

_TH_NGRAM = 0.008    # pair query: exercises exact arithmetic (no planted
                     # trigram near-dups at this threshold — low bar)
_TH_CLUSTER = 0.5    # cluster/leakage queries: the planted near-dups

_X_JACCARD_SQL = (
    "WITH "
    + _JACCARD_CTES_T.format(th=_TH_NGRAM)
    + f"SELECT doc_a, doc_b, inter, jaccard FROM scored WHERE jaccard >= {_TH_NGRAM}"
)


@_q("x_dedup_ngram_jaccard", _X_JACCARD_SQL)
def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard via shingle inverted-index self-join,
    WITH the production document-frequency cap on (df_cap=100): shingles
    appearing in >100 docs leave the universe, bounding the self-join
    fan-out at 100^2 per shingle; the oracle states the identical cap as
    a window count. (Low threshold: the synthetic corpus has no planted
    trigram near-dups; the operator's exact arithmetic is under test.)
    posts_partitions sized for the test SFs' ~hundreds-of-KB capped
    posting list (at production scale: postings-bytes / ~64 MB)."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3,
        threshold=0.008, df_cap=100, posts_partitions=8,
    )


def _minhash_md5_sql(num_hashes: int = 16, bands: int = 8) -> str:
    """DuckDB oracle for minhash_md5_pairs, generated from the SAME
    _affine constants the Spark side uses — one source of truth, so a
    parameter change cannot desynchronize the engines."""
    from ..operators.dedup import MINHASH_P, _affine

    r = num_hashes // bands
    perms = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in
        ((i, _affine(i)) for i in range(num_hashes))
    )
    return rf"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
posts AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 3, 0) + 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM w WHERE len(w) >= 3),
hashed AS (
  SELECT doc,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT)
           % {MINHASH_P} AS hx
  FROM posts),
mins AS (
  SELECT doc, p.i, MIN((p.a * hx + p.b) % {MINHASH_P}) AS mh
  FROM hashed, (VALUES {perms}) p(i, a, b) GROUP BY doc, p.i),
bandsigs AS (
  SELECT doc, CAST(i // {r} AS INT) AS band,
         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
  FROM mins GROUP BY doc, i // {r})
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM bandsigs a JOIN bandsigs b USING (band, sig)
WHERE a.doc < b.doc
"""


@_q("x_dedup_minhash_md5", _minhash_md5_sql())
def x_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs with a REAL DuckDB oracle: the md5
    base hash and affine permutations are exact integer arithmetic both
    engines state identically, so the banded-LSH candidate set — not
    just its row count — is hash-verified (the crc32/numpy production
    tier x_dedup_minhash_lsh stays rows-only + recall-tested by
    nature). Same scale shape as the production tier: posting-list
    shuffle + per-doc combined MINs + co-located band self-join."""
    return dedup.minhash_md5_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=8,
    )


# staged document near-dup pair table (trigram Jaccard >= _TH_CLUSTER,
# df-capped), one per (process, sf_dir): sf_dir -> parquet path
from .staging import register_stage_cache

_NEARDUP_STAGE_CACHE: dict[str, str] = register_stage_cache({}, paths=True)


def _staged_neardup_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCORED document near-dup pair table (doc_a < doc_b, inter,
    trigram jaccard >= _TH_CLUSTER with the df_cap=100 hot-shingle
    bound), STAGED ONCE per process and read back as parquet by every
    dedup-CC consumer.

    Four catalog queries (cc-clusters, corpus-dedup-cc, quality-keep,
    split-leakage) consume the identical pair set; before r15 each
    re-ran the shingle inverted-index self-join from raw text (~3.4 s
    per consumer at sf0.1). At 100 TB the candidate-pair table is the
    single most expensive dedup artifact — you materialize it once and
    every downstream policy (min-id survivor, quality survivor, leakage
    audit) is a cheap read. Registered as its own oracle-checked query
    (x_dedup_pairs_stage) so the build cost stays on the bench bill,
    exactly like the co-purchase edge stage (mining_pack r14). r18
    keeps the exact (inter, jaccard) scores in the staged file: the
    sketch-tier quantitative gates (MinHash-LSH / SimHash recall,
    corpus-prep survivor audit) read their ground truth from the same
    artifact instead of re-running the inverted-index join."""
    path = _NEARDUP_STAGE_CACHE.get(sf_dir)
    if path is None:
        # production switch (r17): full join below the measured
        # candidate-mass crossover, prefix-filtered above it — output-
        # identical either way, so the oracle is branch-independent.
        # The rational threshold DERIVES from _TH_CLUSTER: a tuned
        # constant then moves the staged pairs AND every consuming
        # oracle template together (code-review r17).
        from fractions import Fraction

        _th = Fraction(_TH_CLUSTER).limit_denominator(1000)
        pairs = dedup.jaccard_pairs_auto(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3,
            t_num=_th.numerator, t_den=_th.denominator,
            df_cap=100, posts_partitions=8,
        ).select("doc_a", "doc_b", "inter", "jaccard")
        path = _scratch_dir("spark_graft_neardup_pairs_") + "/pairs"
        pairs.write.mode("overwrite").parquet(path)
        _NEARDUP_STAGE_CACHE[sf_dir] = path
    return spark.read.parquet(path)


def _staged_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged pair set WITHOUT scores — the shape every CC/policy
    consumer joins on (see _staged_neardup_scored)."""
    return _staged_neardup_scored(spark, sf_dir).select("doc_a", "doc_b")


@_q(
    "x_dedup_pairs_stage",
    "WITH "
    + _JACCARD_CTES_T.format(th=_TH_CLUSTER).lstrip()
    + f"SELECT doc_a, doc_b, inter, jaccard FROM scored "
    f"WHERE jaccard >= {_TH_CLUSTER}",
)
def x_dedup_pairs_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged near-dup pair table itself (see
    _staged_neardup_scored): one row per candidate pair at the cluster
    threshold, WITH the exact (inter, jaccard) scores (r18). Hash-
    checking THIS table transitively pins both the pair set every
    dedup-CC policy query consumes and the ground-truth scores the
    sketch recall gates measure against."""
    return _staged_neardup_scored(spark, sf_dir)


# Min-reachable-label connected components over the pair graph: walk
# enumerates (node, reachable node) — the recursive UNION dedups, so it
# terminates — and MIN over reachable ids is the cluster id. Tractable
# because near-dup components are small; the Spark side has no such
# bound and uses the log-convergent label-propagation operator instead.
_CC_SQL_T = (
    "WITH RECURSIVE "
    + _JACCARD_CTES_T
    + """,
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
walk(u, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.u),
cc AS (SELECT u, MIN(label) AS component FROM walk GROUP BY u)
"""
)


@_q(
    "x_dedup_cc_clusters",
    _CC_SQL_T.format(th=_TH_CLUSTER)
    + "SELECT u AS doc_id, component AS cluster_id FROM cc",
)
def x_dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: trigram-Jaccard pairs (>= 0.5, df-capped)
    closed under transitivity via distributed connected components
    (operators/graph.py min-label propagation + path halving). The
    synthetic corpus' planted near-dups include a 3-doc chain, so this
    genuinely exercises transitive closure, not just pair mirroring.
    cluster_id = smallest doc_id reachable — deterministic, and the same
    convention the recursive-CTE oracle states."""
    from ..operators.graph import connected_components

    # staged once per process (r15); see _staged_neardup_pairs
    pairs = _staged_neardup_pairs(spark, sf_dir)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@_q(
    "x_corpus_dedup_cc",
    _CC_SQL_T.format(th=_TH_CLUSTER)
    + """,
survivors AS (
  SELECT component AS doc_id, COUNT(*) AS n_members FROM cc GROUP BY component),
untouched AS (
  SELECT doc_id, CAST(1 AS BIGINT) AS n_members FROM documents
  WHERE doc_id NOT IN (SELECT u FROM cc))
SELECT doc_id, n_members FROM survivors
UNION ALL SELECT doc_id, n_members FROM untouched""",
)
def x_corpus_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware corpus dedup end-to-end: pair generation ->
    connected components -> keep ONE canonical doc per cluster (min id)
    plus every pair-free doc. The principled alternative to 'drop doc_b
    of each pair', which over-deletes chains (see operators/graph.py
    module docstring)."""
    from ..operators.graph import dedup_by_clusters

    docs = load_table(spark, sf_dir, "documents")
    # staged once per process (r15); see _staged_neardup_pairs
    pairs = _staged_neardup_pairs(spark, sf_dir)
    return dedup_by_clusters(docs, pairs)


@_q(
    "x_corpus_dedup_quality_keep",
    _CC_SQL_T.format(th=_TH_CLUSTER)
    + ",\nq AS (SELECT doc_id, "
    + _QUALITY_EXPR
    + """ AS quality FROM documents),
ranked AS (
  SELECT cc.u AS doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY cc.component
                            ORDER BY q.quality DESC, cc.u ASC) AS rk,
         COUNT(*) OVER (PARTITION BY cc.component) AS n_members
  FROM cc JOIN q ON cc.u = q.doc_id)
SELECT doc_id, CAST(n_members AS BIGINT) AS n_members, quality
FROM ranked WHERE rk = 1
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT) AS n_members, quality FROM q
WHERE doc_id NOT IN (SELECT u FROM cc)""",
)
def x_corpus_dedup_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster dedup end-to-end: near-dup pairs ->
    connected components -> keep the HIGHEST-quality member per cluster
    (ties -> smallest doc_id) plus every pair-free doc. The retention
    policy x_corpus_dedup_cc's min-id convention approximates; here the
    survivor is chosen by the composite quality heuristic (the choice a
    real corpus build makes). Oracle: the recursive-CTE closure joined
    to the same quality expression, argmax via the identical
    (quality DESC, id ASC) total order."""
    from ..operators.graph import dedup_by_clusters_best

    docs = load_table(spark, sf_dir, "documents")
    # staged once per process (r15); see _staged_neardup_pairs
    pairs = _staged_neardup_pairs(spark, sf_dir)
    scored = docs.select(
        "doc_id", tx.quality_score(F.col("text")).alias("quality")
    )
    return dedup_by_clusters_best(scored, pairs, "doc_id", "quality")


# Holdout rate for the split-leakage audit, stated ONCE: both the Spark
# body and the SQL oracle derive their md5-prefix threshold from it, so
# a rate change cannot desynchronize the two engines.
_LEAK_HOLDOUT_RATE = 0.4


def _leak_thr() -> str:
    from ..operators.sampling import hash_threshold

    return hash_threshold(_LEAK_HOLDOUT_RATE)


_LEAK_THR = _leak_thr()


@_q(
    "x_split_neardup_leakage",
    "WITH "
    + _JACCARD_CTES_T.format(th=_TH_CLUSTER).lstrip()
    + f"""
SELECT doc_a, doc_b,
       CASE WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 4) < '{_LEAK_THR}'
            THEN 'holdout' ELSE 'train' END AS split_a,
       CASE WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 4) < '{_LEAK_THR}'
            THEN 'holdout' ELSE 'train' END AS split_b
FROM pairs
WHERE (substr(md5(CAST(doc_a AS VARCHAR)), 1, 4) < '{_LEAK_THR}')
   <> (substr(md5(CAST(doc_b AS VARCHAR)), 1, 4) < '{_LEAK_THR}')""",
)
def x_split_neardup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit: near-duplicate pairs (trigram Jaccard
    >= 0.5) that STRADDLE the train/holdout split — a holdout doc whose
    near-twin sits in training is leaked eval signal that exact-match
    decontamination misses. (40% holdout here so the small fixture
    yields straddling pairs; production uses ~10% and feeds the result
    to dedup or to the holdout filter.)

    The split is a PURE FUNCTION of doc_id (the split_by_hash rule
    inlined), so membership is computed directly on the pair columns —
    no join against a corpus-sized split table, which would otherwise
    need a broadcast it cannot have at scale. Post-pair cost is map-only."""
    thr = _LEAK_THR
    # staged once per process (r15); see _staged_neardup_pairs
    pairs = _staged_neardup_pairs(spark, sf_dir)

    def split_of(c: str) -> F.Column:
        is_hold = F.substring(F.md5(F.col(c).cast("string")), 1, 4) < thr
        return F.when(is_hold, F.lit("holdout")).otherwise(F.lit("train"))

    return (
        pairs.withColumn("split_a", split_of("doc_a"))
        .withColumn("split_b", split_of("doc_b"))
        .filter(F.col("split_a") != F.col("split_b"))
    )


_KFOLD_K = 5


@_q(
    "x_split_group_kfold",
    _CC_SQL_T.format(th=_TH_CLUSTER)
    + f""",
membership AS (
  SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS group_id
  FROM documents d LEFT JOIN cc ON cc.u = d.doc_id)
SELECT doc_id, group_id,
       CAST(CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % {_KFOLD_K} AS INTEGER) AS fold
FROM membership""",
)
def x_split_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE k-fold split — the leakage-SAFE companion to
    x_split_neardup_leakage (which only MEASURES the damage of a
    per-doc hash split): every document is assigned to one of 5
    folds (_KFOLD_K) by hashing its near-dup CLUSTER representative
    (the connected-component min-id over the staged pair table;
    singletons represent themselves), so a near-twin pair can never
    straddle a fold boundary — the GroupKFold semantic
    train/validation contamination control needs. Deterministic and
    join-free on the assignment side: fold is a pure md5 function of
    group_id, so any later consumer recomputes membership from the
    (doc_id, group_id) columns without a split table (the
    split_by_hash rule). Scale shape: the CC runs once over the staged
    pairs (log-convergent label propagation), the corpus-sized step is
    one left join against the component table (pair-graph-sized, far
    smaller than the corpus) + map-only hashing. The no-straddle
    invariant is pinned in tests/test_sampling.py over every staged
    pair at the fixture SFs."""
    from ..operators.graph import connected_components

    # staged once per process (r15); see _staged_neardup_pairs
    pairs = _staged_neardup_pairs(spark, sf_dir)
    cc = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    m = docs.join(cc, "doc_id", "left_outer").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("group_id"),
    )
    return m.withColumn(
        "fold",
        (
            F.conv(
                F.substring(F.md5(F.col("group_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % _KFOLD_K
        ).cast("int"),
    )


# The sketch tiers' QUANTITATIVE gates (r18). A fixed-seed sketch's
# VALUES are engine-specific (xxhash64 has no DuckDB twin), but its
# CONTRACT against exact ground truth is a deterministic boolean the
# oracle can state as TRUE — the same pattern the r18 HLL/GK gates use.
# Ground truth is the staged scored pair table (_staged_neardup_scored:
# exact trigram Jaccard, df_cap=100), so the gate adds one tiny
# broadcast join to the sketch run, not a second inverted-index join.
_TH_SKETCH_TRUE = 0.8  # planted near-dups sit at >= 0.8 exact Jaccard

_X_MINHASH_GATE_SQL = (
    "WITH "
    + _JACCARD_CTES_T.format(th=_TH_SKETCH_TRUE).lstrip()
    + """SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS recall_ok, TRUE AS est_ok
FROM pairs"""
)


@_q("x_dedup_minhash_lsh", _X_MINHASH_GATE_SQL)
def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16-band LSH under its quantitative recall gate.

    The production operator (hot-bucket cap 1000: a boilerplate band
    bucket shared by d docs would contribute d^2 candidate pairs, so
    buckets above the cap drop before the self-join; true near-dups
    still pair through their other bands) runs unchanged; the gate
    left-joins the exact >= 0.8-Jaccard pair set from the staged scored
    table and emits its contract: n_true_pairs (oracle recomputes
    exactly), recall >= 0.9 over true pairs (at J >= 0.8 the 16-band
    S-curve catches each pair w.p. 1-(1-j^4)^16 >= 0.9998, and the
    crc32+affine family is fixed-seed, so the boolean is deterministic
    — the oracle states TRUE), and max |est - exact| <= 0.3 over caught
    pairs (64 hashes: sd ~ 0.05-0.06/pair; statistical accuracy is
    further property-tested in tests/test_dedup.py). Upgraded from
    rows-only in r18 (VERDICT r17 task #5 pattern)."""
    cand = dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        bucket_cap=1000,
    )
    trues = _staged_neardup_scored(spark, sf_dir).filter(
        F.col("jaccard") >= F.lit(_TH_SKETCH_TRUE)
    )
    n_true = F.count(F.lit(1))
    n_caught = F.count("est_jaccard")  # non-null = LSH produced the pair
    return (
        trues.join(cand, ["doc_a", "doc_b"], "left")
        .agg(
            n_true.cast("long").alias("n_true_pairs"),
            (n_caught >= F.ceil(n_true * F.lit(0.9))).alias("recall_ok"),
            F.coalesce(
                F.max(F.abs(F.col("est_jaccard") - F.col("jaccard")))
                <= F.lit(0.3),
                F.lit(True),
            ).alias("est_ok"),
        )
    )


_X_SPANS_SQL = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
posts AS (
  SELECT doc_id AS doc,
         md5(unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 8, 0) + 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
             || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]
         )))) AS win
  FROM w WHERE len(w) >= 8),
sizes AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_windows FROM posts GROUP BY doc),
dup AS (SELECT win FROM posts GROUP BY win HAVING COUNT(*) >= 2),
shared AS (
  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM posts JOIN dup USING (win) GROUP BY doc)
SELECT s.doc, s.n_windows,
       COALESCE(sh.n_shared, 0) AS n_shared,
       CAST(COALESCE(sh.n_shared, 0) AS DOUBLE)
         / CAST(s.n_windows AS DOUBLE) AS dup_ratio
FROM sizes s LEFT JOIN shared sh ON sh.doc = s.doc
"""


@_q("x_dedup_substring_spans", _X_SPANS_SQL)
def x_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-substring signal: per doc, the count and fraction of
    its distinct 8-token windows appearing in >=2 docs — the grouped-
    window approximation of exact substring dedup (verbatim overlaps
    show up as runs of shared windows). Linear in postings: a window in
    d docs costs d posting rows, never d^2 pairs."""
    return dedup.shared_window_spans(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k=8,
        posts_partitions=8,
    )


_X_SIMHASH_GATE_SQL = (
    "WITH "
    + _JACCARD_CTES_T.format(th=_TH_SKETCH_TRUE).lstrip()
    + """SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       TRUE AS complete_r3_ok, TRUE AS hamming_consistent_ok,
       TRUE AS recall_ok
FROM pairs"""
)


@_q("x_dedup_simhash", _X_SIMHASH_GATE_SQL)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs (hamming <= 12 over token sets)
    under its r18 quantitative contract gate.

    The production operator runs unchanged (4x16-bit pigeonhole
    banding, exact bit_count verify; radius 12 > n_bands-1 is the
    DOCUMENTED best-effort regime — hamming_band_pairs warns). The
    gate left-joins the exact >= 0.8-Jaccard pair set from the staged
    scored table, recomputes each true pair's signature hamming, and
    emits the operator's actual contracts: n_true_pairs (oracle
    recomputes exactly); complete_r3_ok — every true pair within
    hamming 3 IS caught (pigeonhole guarantee: a pair differing in
    <= 3 bits cannot differ in all 4 chunks — TRUE by construction);
    hamming_consistent_ok — the operator's reported hamming equals the
    recomputed signature distance on every caught pair; recall_ok —
    empirical recall >= 0.5 at radius 12 (measured 0.67-0.71 across
    the three fixtures; deterministic because the xxhash64 bit family
    is fixed-seed). Upgraded from rows-only in r18."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE cached signature pass feeds the band self-join's two branches
    # AND the gate's two endpoint joins (4 consumers; released by
    # release_caches) — uncached, the vote-array aggregation ran 4x
    # (measured 5.3 s -> ~1.6 s at sf0.1)
    sigs = dedup._cached(dedup.simhash_signatures(docs, "doc_id", "text"))
    cand = dedup.hamming_band_pairs(
        sigs, id_col="doc", sig_col="simhash", max_hamming=12, n_bands=4
    )
    trues = (
        _staged_neardup_scored(spark, sf_dir)
        .filter(F.col("jaccard") >= F.lit(_TH_SKETCH_TRUE))
        .join(
            sigs.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("_sa")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("_sb")),
            "doc_b",
        )
        .withColumn("_h_sig", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
    )
    n_true = F.count(F.lit(1))
    n_caught = F.count("hamming")
    missed_r3 = F.sum(
        F.when((F.col("_h_sig") <= 3) & F.col("hamming").isNull(), 1).otherwise(0)
    )
    return (
        trues.join(cand, ["doc_a", "doc_b"], "left")
        .agg(
            n_true.cast("long").alias("n_true_pairs"),
            (missed_r3 == 0).alias("complete_r3_ok"),
            F.coalesce(
                F.max(F.abs(F.col("hamming") - F.col("_h_sig"))) == 0,
                F.lit(True),
            ).alias("hamming_consistent_ok"),
            (n_caught >= F.ceil(n_true * F.lit(0.5))).alias("recall_ok"),
        )
    )


_X_CENTROID_SQL = """
SELECT label, CAST(i - 1 AS INTEGER) AS idx,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000000)
                     AS BIGINT)) AS DOUBLE)
         / (1000000000.0 * COUNT(*)) AS centroid_val
FROM embeddings, range(1, 65) t(i)
GROUP BY 1, 2
"""


@_q("x_emb_centroid_elements", _X_CENTROID_SQL)
def x_emb_centroid_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids at the element grain — the IVF
    coarse-quantizer init / k-means update step as one grouped agg.
    posexplode fans each vector into 64 (label, idx, val) rows; values
    are floor-quantized to 1e-9 and summed as exact BIGINTs (floor has
    no rounding-mode ties, unlike decimal casts where Spark HALF_UP vs
    DuckDB HALF_EVEN diverge on doubles' terminating decimal
    expansions), with ONE double division at the output boundary. One
    shuffle of 64 x n_vectors tiny rows; map-side combine reduces to
    n_labels x 64 x n_partitions partials."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("idx", "val"))
        .groupBy("label", "idx")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.sum(
                    F.floor(F.col("val").cast("double") * 1_000_000_000).cast("long")
                ).cast("double")
                / (F.lit(1_000_000_000.0) * F.count(F.lit(1)))
            ).alias("centroid_val"),
        )
    )


_X_VOCAB_SQL = r"""
SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS freq
FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
      FROM documents)
GROUP BY t
ORDER BY freq DESC, token ASC
LIMIT 100
"""


@_q("x_text_vocab_topk", _X_VOCAB_SQL)
def x_text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 tokens by frequency (Zipf head /
    stopword discovery). Deterministic under ties via the (freq DESC,
    token ASC) total order, so LIMIT picks the same rows in both
    engines. Explode + map-side-combined count; the global top-k is a
    single reduced sort over distinct tokens, not corpus rows."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(100)
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

_X_PROFILE_SQL = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
    f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    f"AS n_nulls, "
    f"COUNT(DISTINCT {c}) AS n_distinct FROM orders"
    for c in _PROFILE_COLS
)


@_q("x_validate_profile", _X_PROFILE_SQL)
def x_validate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling in ONE table scan (the Deequ/expectations-style
    pre-ingest audit extending V1/V2): per column, row count, NULL
    count, and EXACT distinct count, melted to one row per column.

    All distinct aggregates run in a single pass — Catalyst plans
    multi-countDistinct via Expand (k-way row multiplication), so the
    table is read once regardless of column count; the alternative the
    reference's N+1-scan validator implies (one query per column,
    validate_data.py:69-80) scans k times. At 100 TB the exact distinct
    on high-cardinality columns is the expensive term (Expand rows
    shuffle per column); the documented scale relief is swapping
    count_distinct for approx_count_distinct (HLL, mergeable partials —
    the x_olap_approx_distinct tier) column by column where exactness
    isn't contractual. NULL counts ride the same scan as conditional
    sums (the V1 single-pass trick)."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nn_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    row = o.agg(*aggs)
    stack = "stack({}, {}) AS (column_name, n_nulls, n_distinct)".format(
        len(_PROFILE_COLS),
        ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in _PROFILE_COLS),
    )
    return row.select("n_rows", F.expr(stack)).select(
        "column_name", "n_rows", "n_nulls", "n_distinct"
    )


_X_ANOMALY_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, COUNT(*) AS n_hours,
         CAST(SUM(cnt) AS BIGINT) AS s,
         CAST(SUM(cnt * cnt) AS BIGINT) AS ss
  FROM hourly GROUP BY 1),
scored AS (
  SELECT h.event_type, h.hour, h.cnt,
         CAST(s.ss AS DOUBLE) / CAST(s.n_hours AS DOUBLE)
           - (CAST(s.s AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
             * (CAST(s.s AS DOUBLE) / CAST(s.n_hours AS DOUBLE)) AS var,
         CAST(h.cnt AS DOUBLE)
           - CAST(s.s AS DOUBLE) / CAST(s.n_hours AS DOUBLE) AS dev
  FROM hourly h JOIN stats s ON h.event_type = s.event_type)
SELECT event_type, hour, cnt, dev / sqrt(var) AS z
FROM scored
WHERE var > 0 AND abs(dev / sqrt(var)) >= 2.0
"""


@_q("x_events_anomaly_zscore", _X_ANOMALY_SQL)
def x_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection on the event stream's batch view: hours
    whose per-type event count deviates >= 2 population standard
    deviations from that type's hourly mean (the ingest-monitoring
    query a pipeline runs before trusting a day's data).

    The variance is computed EXPLICITLY from exact integer sums
    (n, sum, sum-of-squares -> var = ss/n - (s/n)^2 in one fixed IEEE
    operation order) rather than via the engines' stddev aggregates,
    whose internal accumulation orders differ across engines and
    partitionings; integer sums are order-insensitive, so the z-scores
    hash-match bit-exactly AND are reproducible across cluster sizes —
    the same property the centroid query gets from fixed-point sums.
    Shape: two map-side-combined aggs (hours x types, then types) and
    one broadcast join of the tiny per-type stats."""
    from ..sources.readers import load_events

    e = load_events(spark, sf_dir)
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n_hours").cast("double")
    var = F.col("ss").cast("double") / F.col("n_hours").cast("double") - mean * mean
    dev = F.col("cnt").cast("double") - mean
    z = dev / F.sqrt(var)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn("var", var)
        .withColumn("z", z)
        .filter((F.col("var") > 0) & (F.abs(F.col("z")) >= 2.0))
        .select("event_type", "hour", "cnt", "z")
    )


_X_TFIDF_SQL = r"""
WITH tf AS (
  SELECT doc_id, t AS term, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        FROM documents)
  GROUP BY doc_id, t),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, score, rank FROM (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE)
           * (CAST(nd.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY CAST(tf.tf AS DOUBLE)
                      * (CAST(nd.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE))
                    DESC, tf.term ASC) AS rank
  FROM tf, dfreq, nd WHERE tf.term = dfreq.term)
WHERE rank <= 5
"""


@_q("x_text_tfidf", _X_TFIDF_SQL)
def x_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms: top-5 by TF-IDF (keyword extraction /
    relevance scoring over the corpus). The idf factor is the LINEAR
    ratio n_docs/df rather than log(n_docs/df): rankings need only a
    monotone-in-df weight per fixed tf, and tf * (n/df) is pure IEEE
    multiply/divide — bit-identical across engines with the same
    parenthesization — while log() is library-dependent at the ulp
    level and would make the hash gate flaky (swap in log for a
    production scorer; the plan shape is unchanged).

    Shape: explode -> two map-side-combined counts (term frequency per
    doc, then document frequency per term — the second groupBy's input
    is ALREADY one row per (doc, term), so df costs a distinct-terms
    shuffle, not a corpus shuffle), one term-keyed join, a broadcast
    scalar n_docs, and a per-doc top-5 window. Deterministic under
    score ties via the (score DESC, term ASC) total order."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(tx.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


_X_BIGRAM_SQL = r"""
WITH pairs AS (
  SELECT unnest(list_transform(range(1, len(l)),
                               i -> l[i] || ' ' || l[i+1])) AS bigram
  FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS l
        FROM documents)),
counts AS (SELECT bigram, COUNT(*) AS n FROM pairs GROUP BY bigram)
SELECT bigram, n FROM counts ORDER BY n DESC, bigram ASC LIMIT 100
"""


@_q("x_text_bigram_lm", _X_BIGRAM_SQL)
def x_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram head: top-100 adjacent token pairs by frequency —
    the n-gram LM count table (contamination fingerprints, domain
    boilerplate discovery, bigram-LM smoothing inputs) one order up
    from x_text_vocab_topk's unigrams.

    Bigrams form inside each document row via zip_with over two
    offset slices of the token array — array built-ins, no window, no
    per-row Python — so the only shuffle is the map-side-combined
    count over distinct bigrams, and the global top-k sorts reduced
    counts, not corpus rows. Deterministic under count ties via the
    (n DESC, bigram ASC) total order."""
    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select(tx.tokens(F.lower(F.col("text"))).alias("toks"))
    bigrams = t.select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(100)
    )


# Greedy sequence packing stated in SQL (r11 oracle graduation): the
# pack-group id is the md5 bucket pack_chunks derives (pure function of
# doc_id), the greedy "maximal prefix with running sum <= 512" bin
# boundaries come from a recursive CTE that closes one bin per group
# per step (each chunk is <= 128 tokens, so a bin always takes at least
# one chunk and the COALESCE fallback is safety only), and each chunk's
# bin is the smallest boundary at-or-after its row number. bin_id
# arithmetic (group << 40 | bin) matches operators/corpus.py.
_X_PACK_SQL = r"""
WITH RECURSIVE
w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(w) - 16 - 1, 0) + 2, 112)) AS s,
         w
  FROM w),
c AS (
  SELECT doc_id,
         CAST((s - 1) / 112 AS INTEGER) AS chunk_idx,
         CAST(len(list_slice(w, s, s + 127)) AS BIGINT) AS n_tokens,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 16 AS pid
  FROM chunks),
t AS (
  SELECT pid, doc_id, chunk_idx, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY pid
                            ORDER BY doc_id, chunk_idx) AS rn,
         SUM(n_tokens) OVER (PARTITION BY pid
                             ORDER BY doc_id, chunk_idx) AS s
  FROM c),
bins AS (
  SELECT pid, CAST(-1 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS end_rn,
         CAST(0 AS BIGINT) AS s_end
  FROM (SELECT DISTINCT pid FROM t)
  UNION ALL
  SELECT b.pid, b.bin + 1,
         (SELECT COALESCE(MAX(t.rn), b.end_rn + 1) FROM t
           WHERE t.pid = b.pid AND t.rn > b.end_rn
             AND t.s - b.s_end <= 512) AS end_rn,
         (SELECT t.s FROM t
           WHERE t.pid = b.pid
             AND t.rn = (SELECT COALESCE(MAX(t2.rn), b.end_rn + 1) FROM t t2
                          WHERE t2.pid = b.pid AND t2.rn > b.end_rn
                            AND t2.s - b.s_end <= 512)) AS s_end
  FROM bins b
  WHERE EXISTS (SELECT 1 FROM t WHERE t.pid = b.pid AND t.rn > b.end_rn)),
assigned AS (
  SELECT t.pid, t.n_tokens,
         (SELECT MIN(b.bin) FROM bins b
           WHERE b.pid = t.pid AND b.bin >= 0 AND b.end_rn >= t.rn) AS bin
  FROM t)
SELECT CAST(pid * 1099511627776 + bin AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_seqs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
FROM assigned
GROUP BY 1
"""


@_q("x_pack_sequences", _X_PACK_SQL)
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk (128/16) then greedily pack into 512-token context bins —
    the chunk->pack training-batch prep chain. Per-bin summary output.
    Oracle-checked since r11: pack_chunks' group id is an md5 bucket
    (pure function of doc_id), so the greedy assignment is statable as
    a recursive CTE (one closed bin per group per step). Bin-capacity
    and determinism invariants additionally tested in
    tests/test_text.py."""
    from ..operators.corpus import chunk_documents, pack_chunks

    chunks = chunk_documents(
        spread(load_table(spark, sf_dir, "documents")),
        "doc_id", "text", chunk_tokens=128, overlap=16,
    )
    # n_partitions pinned: the per-group greedy makes the group count
    # part of the result's identity, and the gate must see the same
    # bins on any host
    packed = pack_chunks(chunks, context_tokens=512, n_partitions=16)
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .select("bin_id", "n_seqs", F.col("bin_tokens").cast("long").alias("bin_tokens"))
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, 65),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        f" / (sqrt(list_sum(list_transform(range(1, 65),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
        f" * sqrt(list_sum(list_transform(range(1, 65),"
        f" i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))"
    )


def _kmeans_grid_d2(v: str, c: str, dim: int = 64) -> str:
    """Integer squared-L2 between two BIGINT-list exprs (the grid
    tier's assignment metric — exact, so comparable bit-for-bit)."""
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])))"
    )


def _kmeans_grid_cells_parts(
    n_cells: int | str = 8,
    n_iters: int = 3,
    scale: int = 1024,
    dim: int = 64,
    pfx: str = "",
) -> list[str]:
    """Shared CTE prefix for every grid-kmeans consumer: quantize ->
    init (first n by id) -> n_iters unrolled assign/re-center pairs.
    Ends with {pfx}c{n_iters}, the trained centroid table. Restates
    similarity.kmeans_fit_int_grid exactly (see its docstring for the
    exactness proof). ``pfx`` namespaces the CTEs so two trainings with
    different n_cells can share one statement (x_emb_centroids_stage).
    ``n_cells`` may be a scalar-subquery STRING (DuckDB allows
    ``LIMIT (SELECT ...)``) for data-dependent cell counts — the
    SemDeDup k = max(32, floor(sqrt(n))) contract."""
    d2 = _kmeans_grid_d2
    parts = [
        f"""{pfx}q AS MATERIALIZED (
  SELECT vec_id, embedding,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
  FROM embeddings),
{pfx}c0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) AS cell,
         qv AS cent
  FROM (SELECT * FROM {pfx}q ORDER BY vec_id LIMIT {n_cells}))"""
    ]
    for t in range(1, n_iters + 1):
        parts.append(
            f"""{pfx}a{t} AS MATERIALIZED (
  SELECT vec_id, qv, cell FROM (
    SELECT v.vec_id, v.qv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2('v.qv', 'c.cent', dim)}, c.cell) AS rk
    FROM {pfx}q v CROSS JOIN {pfx}c{t - 1} c) t WHERE rk = 1),
{pfx}u{t} AS MATERIALIZED (
  SELECT cell, i,
         CAST(FLOOR(CAST(SUM(qv[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM {pfx}a{t}, UNNEST(range(1, {dim + 1})) AS {pfx}it{t}(i)
  GROUP BY cell, i),
{pfx}m{t} AS (SELECT cell, list(m ORDER BY i) AS cent FROM {pfx}u{t} GROUP BY cell),
{pfx}c{t} AS MATERIALIZED (
  SELECT c.cell, COALESCE(u.cent, c.cent) AS cent
  FROM {pfx}c{t - 1} c LEFT JOIN {pfx}m{t} u ON u.cell = c.cell)"""
        )
    return parts


def _ivf_kmeans_grid_sql(
    n_cells: int = 8,
    n_probe: int = 4,
    k: int = 10,
    n_iters: int = 3,
    scale: int = 1024,
    dim: int = 64,
    n_queries: int = 5,
) -> str:
    """The FULL grid-snapped Lloyd + IVF probe chain as one SQL string:
    quantize -> init (first n by id) -> n_iters unrolled
    assign/re-center CTE pairs -> final cell assignment -> probe ->
    exact-cosine re-rank. Every training intermediate is integer
    (see similarity.kmeans_fit_int_grid), so DuckDB rebuilds the
    identical centroids from the same parquet and the driver
    hash-checks cell boundaries, probe membership, AND ranking."""

    def d2(v: str, c: str) -> str:
        return _kmeans_grid_d2(v, c, dim)

    parts = _kmeans_grid_cells_parts(n_cells, n_iters, scale, dim)
    parts.append(
        f"""corpus_cells AS (
  SELECT vec_id AS neighbor_id, embedding AS cvec, cell FROM (
    SELECT v.vec_id, v.embedding, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2('v.qv', 'c.cent')}, c.cell) AS rk
    FROM q v CROSS JOIN c{n_iters} c) t WHERE rk = 1),
query_cells AS (
  SELECT vec_id AS query_id, embedding AS qvec, cell FROM (
    SELECT v.vec_id, v.embedding, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2('v.qv', 'c.cent')}, c.cell) AS rk
    FROM q v CROSS JOIN c{n_iters} c
    WHERE v.vec_id < {n_queries}) t WHERE rk <= {n_probe}),
cand AS (
  SELECT qc.query_id, qc.qvec, s.neighbor_id, s.cvec
  FROM query_cells qc JOIN corpus_cells s USING (cell)
  WHERE qc.query_id <> s.neighbor_id),
scored AS (
  SELECT query_id, neighbor_id, {_sql_cos('qvec', 'cvec')} AS cos FROM cand)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= {k}
"""
    )


# staged trained integer-grid k-means centroids, one per
# (process, sf_dir, n_cells, n_iters, scale): values are the tiny
# pre-collected [(cell, [ints])] lists, not paths
_CENTROID_STAGE_CACHE: dict[tuple, list] = register_stage_cache(
    {}, paths=False
)


def _staged_grid_centroids(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int,
    n_iters: int = 3,
    scale: int = 1024,
) -> list[tuple[int, list[int]]]:
    """Trained integer-grid k-means centroids, STAGED ONCE per process
    per parameterization and shared by every consumer.

    Three catalog queries train over the same embeddings table —
    x_sim_ivf_kmeans_topk + x_corpus_cluster_balance (8 cells) and
    x_dedup_semantic_semdedup (32 cells); before r15 each re-ran the
    3-iteration Lloyd loop (3 full corpus scans + assigns per
    training). The trained model is k x dim LONGS — driver-resident by
    construction (kmeans_fit_int_grid collects exactly that each
    round), so the stage is a dict entry, not a parquet table; at
    100 TB you'd persist it beside the index the same way. Registered
    as its own oracle-checked query (x_emb_centroids_stage) covering
    BOTH parameterizations, so the full training bill sits on one
    visible bench line (the edge-table pattern, mining_pack r14)."""
    key = (sf_dir, n_cells, n_iters, scale)
    cents = _CENTROID_STAGE_CACHE.get(key)
    if cents is None:
        cents = similarity.kmeans_fit_int_grid(
            load_table(spark, sf_dir, "embeddings"),
            n_cells=n_cells, n_iters=n_iters, scale=scale,
        )
        _CENTROID_STAGE_CACHE[key] = cents
    return cents


def _centroid_stage_sql(dim: int = 64) -> str:
    """Both trainings — the static 8-cell ANN/sampling model and the
    data-dependent SemDeDup model (k = max(32, floor(sqrt(n))), the
    same scalar subquery _semdedup_sql uses) — in ONE statement via
    pfx-namespaced CTE prefixes, unnested to (n_cells, cell, i, m)
    scalar rows for the value-hash check."""
    k_expr = (
        "GREATEST(32, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))"
    )
    p8 = _kmeans_grid_cells_parts(8, 3, 1024, dim, pfx="k8")
    pd = _kmeans_grid_cells_parts(
        "(SELECT k FROM semk)", 3, 1024, dim, pfx="kd"
    )
    return (
        "WITH "
        + f"semk AS MATERIALIZED (SELECT {k_expr} AS k FROM embeddings),\n"
        + ",\n".join(p8 + pd)
        + f"""
SELECT CAST(8 AS INTEGER) AS n_cells, cell, CAST(i AS INTEGER) AS i,
       cent[i] AS m
FROM k8c3, UNNEST(range(1, {dim + 1})) AS f8(i)
UNION ALL
SELECT CAST((SELECT k FROM semk) AS INTEGER) AS n_cells, cell,
       CAST(i AS INTEGER) AS i, cent[i] AS m
FROM kdc3, UNNEST(range(1, {dim + 1})) AS fd(i)
"""
    )


@_q("x_emb_centroids_stage", _centroid_stage_sql())
def x_emb_centroids_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged centroid tables themselves (see
    _staged_grid_centroids), unnested to one row per (model, cell,
    dimension): the static 8-cell model plus the data-dependent
    SemDeDup model (k = max(32, floor(sqrt(n))) — exactly the k
    x_dedup_semantic_semdedup consumes, so at every SF the stage
    trains what the consumers read). Hash-checking these pins the
    trained models every ANN/sampling/semantic-dedup consumer assigns
    against."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    _n = _pq_rows(sf_dir, "embeddings")
    kd = max(32, math.floor(math.sqrt(float(_n if _n is not None else emb.count()))))
    rows = []
    for n_cells in (8, kd):
        for cell, vec in _staged_grid_centroids(spark, sf_dir, n_cells):
            rows.extend(
                (n_cells, cell, i, int(m))
                for i, m in enumerate(vec, start=1)
            )
    return spark.createDataFrame(
        rows, "n_cells int, cell int, i int, m long"
    )


@_q("x_sim_ivf_kmeans_topk", _ivf_kmeans_grid_sql())
def x_sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with distributed Lloyd k-means cells (3 iterations).
    ORACLE-CHECKED since r14 (the r13 verdict's graduation ask): the
    registered tier runs kmeans_fit_int_grid — Lloyd with vectors and
    centroids snapped to a 2^-10 integer grid, where assignment
    distances, tie-breaks, and floor-mean re-centering are ALL exact
    integer/correctly-rounded ops — so the fixed 3-iteration chain
    unrolls into SQL CTEs (_ivf_kmeans_grid_sql) and DuckDB rebuilds
    bit-identical centroids, cells, probes, and the final exact-cosine
    ranking. The float tier (similarity.ivf_kmeans_topk, textbook
    Lloyd — inherently non-statable partial-agg float means) remains
    the production default; recall parity of BOTH tiers vs brute force
    is asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # training staged once per process (r15); see _staged_grid_centroids
    return similarity.ivf_kmeans_topk_grid(
        emb, queries, k=10, n_cells=8, n_probe=4, n_iters=3,
        centroids=_staged_grid_centroids(spark, sf_dir, 8),
    )


def _cluster_quality_sql(
    n_cells: int = 8, n_iters: int = 3, scale: int = 1024, dim: int = 64
) -> str:
    """Cluster-quality metrics restated in SQL: the shared grid-kmeans
    CTE prefix trains the cells, a final integer-L2 assignment keeps
    each vector's distance to its own centroid, and the inter-centroid
    minima come from the k x k centroid self-join (k rows — constant).
    Every statistic is an exact BIGINT, so the hash gate pins the whole
    evaluation."""
    d2 = _kmeans_grid_d2
    parts = _kmeans_grid_cells_parts(n_cells, n_iters, scale, dim)
    parts.append(
        f"""a AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT v.vec_id, c.cell, {d2('v.qv', 'c.cent', dim)} AS d2,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2('v.qv', 'c.cent', dim)}, c.cell) AS rk
    FROM q v CROSS JOIN c{n_iters} c) t WHERE rk = 1),
inter AS (
  SELECT c1.cell, MIN({d2('c1.cent', 'c2.cent', dim)}) AS mi
  FROM c{n_iters} c1 JOIN c{n_iters} c2 ON c1.cell <> c2.cell
  GROUP BY c1.cell)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT a.cell, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(a.d2) AS BIGINT) AS wcss,
       CAST(MAX(a.d2) AS BIGINT) AS max_d2,
       CAST(i.mi AS BIGINT) AS min_inter_d2
FROM a JOIN inter i ON i.cell = a.cell
GROUP BY a.cell, i.mi
"""
    )


@_q("x_emb_cluster_quality", _cluster_quality_sql())
def x_emb_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation over the STAGED k-means model —
    the health check a production ANN/semantic-dedup index needs after
    (re)training: per-cell population (skew → hot probe cells), WCSS
    (k-means inertia — the quantity Lloyd minimizes, summed per cell),
    the worst member distance (cell radius), and the squared distance
    to the nearest other centroid (separation). A cell whose radius
    exceeds its separation is doing SemDeDup/IVF work with overlapping
    neighborhoods — the signal to retrain with larger k.

    All statistics are exact BIGINTs on the integer grid (the
    kmeans_fit_int_grid contract), so the full evaluation —
    assignment, inertia, radii, separations — value-hash-matches the
    DuckDB restatement. Scale shape: one map-only assignment pass over
    the corpus (k-struct literal, no shuffle), one map-side-combined
    agg to k rows; the separation matrix is k^2 driver-side integer
    ops on the already-staged model. Composes with
    x_emb_centroids_stage exactly like the ANN/sampling consumers."""
    cents = _staged_grid_centroids(spark, sf_dir, 8)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", similarity._grid_quantize("embedding", 1024).alias("qv")
    )
    vec = F.col("qv")

    def d2(s):
        return F.aggregate(
            F.zip_with(vec, s["v"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    scored = F.transform(
        similarity._int_centroid_literal(cents),
        lambda s: F.struct(d2(s).alias("d2"), s["cell"].alias("cell")),
    )
    best = F.array_sort(scored)[0]  # (d2, cell) asc = lowest-cell ties
    assigned = q.select(
        "vec_id", best["cell"].alias("cell"), best["d2"].alias("d2")
    )
    # separation: k^2 exact-integer distances over the staged model —
    # pure driver arithmetic on k collected rows, folded in as a literal
    # map (the rank-kernel offsets pattern; no join, no shuffle)
    min_inter = {
        c1: min(
            sum((a - b) * (a - b) for a, b in zip(v1, v2))
            for c2, v2 in cents
            if c2 != c1
        )
        for c1, v1 in cents
    }
    pairs: list = []
    for c, mi in sorted(min_inter.items()):
        pairs.extend((F.lit(c), F.lit(mi)))
    mi_expr = F.element_at(F.create_map(*pairs), F.col("cell"))
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("d2").cast("long").alias("wcss"),
            F.max("d2").cast("long").alias("max_d2"),
        )
        .withColumn("min_inter_d2", mi_expr.cast("long"))
    )


_X_SCATTER_SQL = r"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
  FROM embeddings),
tri AS (
  SELECT CAST(a.i AS INTEGER) AS i, CAST(b.j AS INTEGER) AS j,
         CAST(SUM(qv[a.i] * qv[b.j]) AS BIGINT) AS s
  FROM q, UNNEST(range(1, 65)) AS a(i), UNNEST(range(1, 65)) AS b(j)
  WHERE b.j >= a.i
  GROUP BY a.i, b.j),
means AS (
  SELECT CAST(t.i AS INTEGER) AS i, CAST(0 AS INTEGER) AS j,
         CAST(SUM(qv[t.i]) AS BIGINT) AS s
  FROM q, UNNEST(range(1, 65)) AS t(i) GROUP BY t.i),
cnt AS (
  SELECT CAST(0 AS INTEGER) AS i, CAST(0 AS INTEGER) AS j,
         CAST(COUNT(*) AS BIGINT) AS s FROM q HAVING COUNT(*) > 0)
SELECT * FROM tri UNION ALL SELECT * FROM means UNION ALL SELECT * FROM cnt
"""


@_q("x_emb_scatter_matrix", _X_SCATTER_SQL)
def x_emb_scatter_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer scatter (second-moment) matrix of the embedding
    corpus — the distributed half of PCA/covariance
    (similarity.scatter_matrix_int): every partition folds its rows
    into one int64 64x64 X^T X partial via an Arrow matmul kernel,
    partials merge by integer addition (map-side-combinable groupBy —
    the exchange moves O(parts * dim^2) scalars, never vectors), and
    integer sums are order-insensitive, so DuckDB's row-at-a-time
    restatement over the same grid builds the bit-identical matrix —
    2145 hash-checked statistics (2080 upper-triangle moments + 64
    component sums + the count). The 64x64 eigendecomposition is
    driver-side constant work (similarity.pca_fit, the float
    production tier — eigh is library numerics, the ln()/PMI split
    applied to linear algebra); component quality is property-tested
    in tests/test_similarity.py. This is the one-pass
    training-pipeline primitive behind embedding whitening, PCA
    dim-reduction before ANN indexing, and drift monitoring over
    embedding batches (scatter matrices from two days merge by
    addition, exactly like the CM/HLL sketch lines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(similarity._grid_quantize("embedding", 1024).alias("qv"))
    return similarity.scatter_matrix_int(q, "qv", dim=64)


def _cluster_balance_sql(
    n_cells: int = 8,
    quota: int = 20,
    n_iters: int = 3,
    scale: int = 1024,
    dim: int = 64,
) -> str:
    """Cluster-balanced sampling restated in SQL: the shared grid-
    kmeans CTE prefix trains the cells, a final integer-L2 assignment
    places every vector, and a per-cell ROW_NUMBER over
    (md5(id), id) — a seedless deterministic shuffle both engines
    compute identically — takes the first ``quota`` members."""
    d2 = _kmeans_grid_d2
    parts = _kmeans_grid_cells_parts(n_cells, n_iters, scale, dim)
    parts.append(
        f"""cells AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2('v.qv', 'c.cent', dim)}, c.cell) AS rk
    FROM q v CROSS JOIN c{n_iters} c) t WHERE rk = 1),
sel AS (
  SELECT cell, vec_id,
         ROW_NUMBER() OVER (PARTITION BY cell
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           AS pick
  FROM cells)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(cell AS INTEGER) AS cell, vec_id, CAST(pick AS BIGINT) AS pick
FROM sel WHERE pick <= {quota}
"""
    )


def _semdedup_sql(
    threshold: float = 0.4,
    n_iters: int = 3,
    scale: int = 1024,
    dim: int = 64,
) -> str:
    """SemDeDup restated in SQL: grid-kmeans cells (shared CTE prefix),
    within-cell exact-cosine pairs, recursive min-label closure, one
    survivor per component plus the pair-free remainder.

    The cell count is DATA-DEPENDENT — k = max(32, floor(sqrt(n))),
    stated as a scalar subquery feeding c0's LIMIT — so the statement
    stays correct at any corpus size (fixed k would let cell size grow
    with n and the within-cell pair stage go quadratic — the r15 sf1
    audit measured exactly that at k=32). sqrt on an exactly
    representable integer double is correctly rounded identically in
    both engines, so k is deterministic cross-engine."""
    d2 = _kmeans_grid_d2
    k_expr = (
        "GREATEST(32, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))"
    )
    parts = [f"semk AS MATERIALIZED (SELECT {k_expr} AS k FROM embeddings)"]
    parts += _kmeans_grid_cells_parts(
        "(SELECT k FROM semk)", n_iters, scale, dim
    )
    parts.append(
        f"""cells AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {d2('v.qv', 'c.cent', dim)}, c.cell) AS rk
    FROM q v CROSS JOIN c{n_iters} c) t WHERE rk = 1),
ec AS MATERIALIZED (
  SELECT c.vec_id, c.cell, e.embedding
  FROM cells c JOIN embeddings e USING (vec_id)),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS pu, b.vec_id AS pv
  FROM ec a JOIN ec b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_sql_cos('a.embedding', 'b.embedding')} >= {threshold}),
edges AS (SELECT pu AS u, pv AS v FROM pairs
          UNION ALL SELECT pv, pu FROM pairs),
walk(u, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.u),
cc AS (SELECT u, MIN(label) AS rep FROM walk GROUP BY u)"""
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + """
SELECT rep AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM cc GROUP BY rep
UNION ALL
SELECT vec_id, CAST(1 AS BIGINT) AS n_members FROM embeddings
WHERE vec_id NOT IN (SELECT u FROM cc)
"""
    )


@_q("x_dedup_semantic_semdedup", _semdedup_sql())
def x_dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    that only compares WITHIN k-means cells — cluster the embedding
    space, generate exact-cosine pairs inside each cell, close under
    transitivity, keep one representative (min id) per duplicate group
    plus every pair-free vector. The cell constraint is the paper's
    point at scale: candidate generation is sum-of-cell^2, never
    corpus^2 (its documented recall trade — cross-cell near-dups are
    missed — is bounded by cluster quality). Returns (vec_id,
    n_members) survivors, the x_corpus_dedup_cc shape on the
    embedding axis.

    ORACLE-CHECKED from birth: cells come from the SQL-statable
    integer-grid k-means tier (r14), the cosine is the proven fold,
    and the closure is the recursive min-label walk every CC twin
    uses. Scale shape: training per kmeans_fit_int_grid; the pair join
    is cell-bucketed (8-byte keys + vectors shuffle once on cell);
    components via the log-convergent label-propagation operator."""
    from ..operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    # DATA-DEPENDENT cell count (r15): k = max(32, floor(sqrt(n))).
    # SemDeDup's cost is sum-of-cell^2 cosine pairs, so cell SIZE is
    # the knob — a fixed k lets cells grow with n and the pair stage go
    # quadratic (the r15 sf1 audit measured 18x on 10x data at k=32);
    # k = sqrt(n) bounds BOTH the pair stage and the Lloyd assign at
    # n^1.5, the same class as degree-ordered triangle counting (the
    # paper's production shape — k growing with n, GPU-batched assign —
    # keeps cells O(10^4); sqrt is what stays SQL-statable AND
    # sub-quadratic without sampled training). The count() is one
    # bounded driver scalar; sqrt of an exact integer double is
    # correctly rounded identically in both engines, so k — and
    # therefore every centroid — is cross-engine deterministic.
    # Training staged once per process (r15); see _staged_grid_centroids
    import math

    _n = _pq_rows(sf_dir, "embeddings")
    k = max(32, math.floor(math.sqrt(float(_n if _n is not None else emb.count()))))
    cents = _staged_grid_centroids(spark, sf_dir, k)
    cells = similarity.assign_ivf_cells_int(
        emb.select(
            "vec_id",
            "embedding",
            similarity._grid_quantize("embedding", 1024).alias("__qv"),
        ),
        cents,
        "__qv",
        1,
    ).select("vec_id", "embedding", "cell")
    # within-cell pair stage as the Arrow batched-fold kernel (r15):
    # bit-identical to the join + cosine-filter form (dim-sequential
    # fold — see within_group_cosine_pairs), which the interpreted
    # per-pair HOF made the sf1 bottleneck
    pairs = dedup.within_group_cosine_pairs(
        cells, "cell", "vec_id", "embedding", threshold=0.4
    )
    cc = connected_components(pairs)
    survivors = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    ).select(F.col("component").alias("vec_id"), "n_members")
    untouched = (
        emb.select("vec_id")
        .join(cc.select(F.col("node").alias("vec_id")), "vec_id", "left_anti")
        .select("vec_id", F.lit(1).cast("long").alias("n_members"))
    )
    return survivors.select(
        "vec_id", F.col("n_members").cast("long").alias("n_members")
    ).unionByName(untouched)


@_q("x_corpus_cluster_balance", _cluster_balance_sql())
def x_corpus_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-BALANCED corpus sampling: train integer-grid k-means
    cells over the embedding column, assign every vector to its
    nearest cell, keep an equal quota per cell chosen by a seedless
    deterministic shuffle (md5-of-id order) — the topic-balancing
    selection step of a training-data pipeline (prevents the dominant
    cluster from monopolizing the mixture; the embedding-space analog
    of per-domain temperature mixing, which x_corpus_temperature_mix
    covers on the metadata axis).

    ORACLE-CHECKED from birth: the cell training/assignment reuses the
    SQL-statable grid tier (_kmeans_grid_cells_parts — the r14
    x_sim_ivf_kmeans_topk graduation) and the quota pick is a window
    over (md5(id), id), identical on both engines.

    Scale shape: training is the kmeans_fit_int_grid contract (map-only
    assigns, O(k*dim) driver scalars per round); the selection is ONE
    cell-keyed window over (vec_id, cell) thin rows — never the
    vectors; quota output is k*quota rows regardless of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    # training staged once per process (r15); see _staged_grid_centroids
    cents = _staged_grid_centroids(spark, sf_dir, 8)
    cells = similarity.assign_ivf_cells_int(
        emb.select(
            "vec_id", similarity._grid_quantize("embedding", 1024).alias("__qv")
        ),
        cents,
        "__qv",
        1,
    ).select("vec_id", "cell")
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        cells.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= 20)
        .select(
            F.col("cell").cast("integer").alias("cell"),
            "vec_id",
            F.col("pick").cast("long").alias("pick"),
        )
    )


_X_EMB_DUP_SQL = """
SELECT * FROM (
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  list_sum(list_transform(range(1, 65),
    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(range(1, 65),
       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
   * sqrt(list_sum(list_transform(range(1, 65),
       i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
  AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
) WHERE cos >= 0.4
"""


@_q("x_dedup_embedding_cosine", _X_EMB_DUP_SQL)
def x_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force exact tier; cosine is
    bit-identical to the SQL fold). Threshold 0.4 — the fixture has no
    planted near-dups (max off-diagonal cosine ~0.51). This tier doubles
    as the verification oracle for x_dedup_embedding_cosine_lsh, the
    bucketed scale path."""
    return dedup.embedding_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.4,
    )


# Reusable DuckDB cosine over the 64-wide embedding columns — the same
# sequential left-fold the Spark kernel runs (functions/vectors.py);
# list_sum over the ordered product list is bit-identical to
# aggregate(zip_with(...)) (proven by x_sim_bruteforce_topk since r04).
def _hyperplane_sigs_cte(n_tables: int = 16, n_bits: int = 4, dim: int = 64) -> str:
    """The deterministic hyperplane family is Python floats
    (similarity._hp_weight_val), so the SAME values embed in the SQL as
    a VALUES table of per-(table, bit) weight lists — signature bit j =
    [projection > 0] via the ordered-list fold, signature = sum of 2^j
    (pure integer agg, order-free). repr() round-trips each weight
    exactly and DECIMAL-parse -> DOUBLE preserves it (<= 17 significant
    digits). Shared by the ANN top-k and embedding-dedup LSH oracles."""
    from ..operators.similarity import _hp_weight_val

    rows = ",\n".join(
        "({}, {}, [{}])".format(
            t, j, ",".join(repr(_hp_weight_val(t, j, d)) for d in range(dim))
        )
        for t in range(n_tables)
        for j in range(n_bits)
    )
    return f"""
WITH planes(t, j, w) AS (VALUES
{rows}),
sigs AS (
  SELECT e.vec_id, e.embedding, p.t AS tbl,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, {dim + 1}),
                    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.w[i] AS DOUBLE))) > 0
                  THEN (1 << p.j) ELSE 0 END) AS INTEGER) AS sig
  FROM embeddings e, planes p
  GROUP BY e.vec_id, e.embedding, p.t)
"""



_X_EMB_LSH_SQL = _hyperplane_sigs_cte() + """,
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.sig = b.sig
  WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, cos FROM (
  SELECT cand.id_a, cand.id_b,
         """ + _sql_cos("ae.embedding", "be.embedding") + """ AS cos
  FROM cand
  JOIN embeddings ae ON ae.vec_id = cand.id_a
  JOIN embeddings be ON be.vec_id = cand.id_b) t
WHERE cos >= 0.4
"""


@_q("x_dedup_embedding_cosine_lsh", _X_EMB_LSH_SQL)
def x_dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: hyperplane-LSH buckets generate
    candidates (sum-of-bucket^2 per table, not n^2), exact cosine
    verifies. Recall vs the brute tier asserted in tests/test_dedup.py.
    n_bits=4 matches the fixture's weak similarities (max cosine ~0.51);
    corpora with true near-dups raise n_bits for sharper buckets.
    ORACLE-CHECKED since r10: the shared hyperplane-signature CTE
    states buckets, candidate set, and verification cosine — the LSH
    dedup tier is value-checked end-to-end, not just recall-tested."""
    return dedup.embedding_dup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.4, dim=64, n_bits=4,
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_X_TOPK_SQL = """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_sum(list_transform(range(1, 65),
      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, 65),
         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, 65),
         i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
    AS cos
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 10
"""


@_q("x_sim_bruteforce_topk", _X_TOPK_SQL)
def x_sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 10 query vectors: broadcast queries, map-side
    scoring, per-query window top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=10
    )


def _lsh_topk_sql(k: int = 10) -> str:
    """ANN-LSH oracle: hyperplane signatures (shared CTE above),
    candidates by (table, sig) equality, brute-force cosine re-rank —
    every stage of the ANN tier value-checked."""
    return _hyperplane_sigs_cte() + f""",
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.sig = c.sig
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_sql_cos('qe.embedding', 'ce.embedding')} AS cos
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= {k}
"""


@_q("x_sim_lsh_topk", _lsh_topk_sql())
def x_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via deterministic hyperplane LSH + exact re-rank;
    recall vs brute force is asserted in tests/test_similarity.py. dim
    passed from the fixture schema — no driver-side probe job during
    planning. ORACLE-CHECKED since r10: the hyperplane family embeds in
    the SQL verbatim (_lsh_topk_sql), so the candidate set AND the
    ranking are value-checked, not just recall-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=10, dim=64
    )


# The full IVF chain in SQL: centroids = first 16 corpus vectors by id,
# every vector scores all 16 (the same fold-cosine), corpus lives in
# its argmax cell (cos DESC, cell ASC — the map-only assigner's struct
# order), queries probe their top 4, candidates re-rank by exact
# cosine. Cell boundaries, probe membership, and final ranking are all
# value-checked bit-for-bit.
_X_IVF_TOPK_SQL = f"""
WITH cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) AS cell,
         embedding AS cent
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
scored_all AS (
  SELECT v.vec_id, v.embedding, c.cell,
         {_sql_cos('v.embedding', 'c.cent')} AS cs
  FROM embeddings v, cents c),
corpus_cells AS (
  SELECT vec_id AS neighbor_id, embedding AS cvec, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cell) AS rk
    FROM scored_all) t WHERE rk = 1),
query_cells AS (
  SELECT vec_id AS query_id, embedding AS qvec, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cell) AS rk
    FROM scored_all WHERE vec_id < 10) t WHERE rk <= 4),
cand AS (
  SELECT q.query_id, q.qvec, s.neighbor_id, s.cvec
  FROM query_cells q JOIN corpus_cells s USING (cell)
  WHERE q.query_id <> s.neighbor_id),
scored AS (
  SELECT query_id, neighbor_id, {_sql_cos('qvec', 'cvec')} AS cos FROM cand)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 10
"""


@_q("x_sim_ivf_topk", _X_IVF_TOPK_SQL)
def x_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via IVF cells (16 cells, 4 probes) + exact re-rank;
    recall vs brute force asserted in tests/test_similarity.py.
    ORACLE-CHECKED since r10: centroid choice is deterministic (first
    16 by id) and assignment/probe/re-rank are pure fold-cosine
    arithmetic, so the whole chain restates in SQL (_X_IVF_TOPK_SQL) —
    verified bit-exact including the cosine doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)


# --------------------------------------------------------------------------
# General OLAP aggregation patterns (beyond the reference's surface)
# --------------------------------------------------------------------------


@_q(
    "x_olap_q1_style",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
    "COUNT(*) AS cnt, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty "
    "FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus",
)
def x_olap_q1_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation: filtered scan -> grouped exact decimal
    sums + derived average (partial agg map-side; only per-group partials
    shuffle — the canonical 100 TB reporting query shape). Sums are exact
    decimals internally and cast to double ONCE at the output boundary on
    both engines (the driver hash canonicalizes decimal widths differently
    across engines — round-1 f11/m2/m5 lesson)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_sp"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sp").cast("double").alias("sum_price"),
        "cnt",
        (F.col("_sq").cast("double") / F.col("cnt")).alias("avg_qty"),
    )


@_q(
    "x_olap_topk_per_group",
    "SELECT * FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn FROM orders) WHERE rn <= 3",
)
def x_olap_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via partitioned window — the partitioned window
    shuffles once on the group key and never materializes a global sort."""
    from pyspark.sql import Window as W

    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@_q(
    "x_olap_rollup",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
)
def x_olap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotal rollup (grouping sets): exact decimal sums
    internally, pinned to DOUBLE at the output boundary on both engines
    (unpinned SUM(DECIMAL) widens differently across engines and fails
    the driver's value hash — house rule, plans/catalog.py)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@_q(
    "x_olap_left_outer_join",
    "SELECT c.c_custkey, o.o_orderkey FROM customer c "
    "LEFT JOIN orders o ON o.o_custkey = c.c_custkey",
)
def x_olap_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers without orders (null keys)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey"
    )
    return c.join(o, "c_custkey", "left").select("c_custkey", "o_orderkey")


@_q(
    "x_olap_anti_join",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN "
    "(SELECT o_custkey FROM orders "
    " WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) = 1995)",
)
def x_olap_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no orders in 1995."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year(F.col("o_orderdate").cast("date")) == 1995)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name")


@_q(
    "x_olap_set_ops",
    "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
    "INTERSECT SELECT o_custkey FROM orders "
    "UNION SELECT c_custkey FROM customer WHERE c_custkey < 10 "
    "EXCEPT SELECT c_custkey FROM customer WHERE c_custkey % 100 = 7",
)
def x_olap_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / UNION (distinct) / EXCEPT set algebra on key sets,
    mirroring ANSI precedence (INTERSECT binds tighter; UNION/EXCEPT
    left-to-right)."""
    cust = load_table(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ordered = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    small = cust.filter(F.col("c_custkey") < 10).select("c_custkey")
    lucky = cust.filter(F.col("c_custkey") % 100 == 7).select("c_custkey")
    return building.intersect(ordered).union(small).distinct().exceptAll(
        lucky.distinct()
    )


@_q(
    "x_olap_analytic_window",
    "SELECT o_custkey, o_orderkey, "
    "CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS INTEGER) AS rk, "
    "LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_order, "
    "LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS next_order "
    "FROM orders",
)
def x_olap_analytic_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/lag/lead analytic windows per customer order history."""
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), F.col("o_orderkey")
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rk"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
    )


@_q(
    "x_olap_pivot",
    "SELECT o_orderpriority, "
    "COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F, "
    "COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O, "
    "COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P "
    "FROM orders GROUP BY o_orderpriority",
)
def x_olap_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts by status (explicit value list keeps the output
    schema static — required for any oracle and for stable plans)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


@_q(
    "x_skew_salted_agg",
    "SELECT l_returnflag, COUNT(*) AS cnt, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty "
    "FROM lineitem GROUP BY l_returnflag",
)
def x_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 3-value hot key — result
    identical to plain GROUP BY (the oracle states it), but the heavy
    phase spreads each hot key across 16 reducers instead of 3. Both
    salted kernels run: COUNT sums partial counts, SUM sums partial
    DECIMAL sums (exact type, so re-aggregation order cannot matter);
    the two 3-row phase-2 outputs join on the key for free
    (operators/skew.py:salted_count/salted_sum)."""
    from ..operators.skew import salted_count, salted_sum

    li = load_table(spark, sf_dir, "lineitem")
    cnt = salted_count(li, ["l_returnflag"], "l_orderkey")
    qty = salted_sum(
        li,
        ["l_returnflag"],
        F.col("l_quantity").cast("decimal(18,2)"),
        salt_from="l_orderkey",
        alias="_qty",
    )
    return cnt.join(qty, "l_returnflag").select(
        "l_returnflag", "cnt", F.col("_qty").cast("double").alias("total_qty")
    )


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


@_q(
    "x_mm_decode_metadata",
    "SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes, "
    "CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width, "
    "CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height, "
    "'FAKE' AS format FROM documents",
)
def x_mm_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + Arrow-batched mapInPandas decode stage. The
    decode is real for PNG/JPEG/GIF (header parse, tests cover actual
    image bytes); the fixture's text-byte payloads are not images, so
    they take the deterministic fallback the oracle states."""
    d = multimodal.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.decode_media(d)


# The dHash signature chain restated in plain BIGINT SQL — possible
# because render_thumbnail is affine-mod-prime BY DESIGN (all
# intermediates < 2^56; see its docstring) and the 72-byte payload is
# its own luma grid (the _luma_grid fallback averages 1-byte cells, an
# identity). Stages mirror the Python exactly: whitespace-normalize ->
# injective 24-bit byte-3-gram codes (ASCII fixture: ord == byte) ->
# DISTINCT (np.unique) -> (code*A + B) mod P -> min-luma per cell,
# empty cells 0 -> dHash bit (r,c) = [grid[r][c] < grid[r][c+1]] ->
# signed-64 assembly (bit 63 contributes -2^63). The pair stage needs
# NO banding restatement: banding is complete for hamming <= 6 < 8
# bands (pigeonhole), so ground truth is simply ALL pairs within the
# radius — which is exactly what completeness promises the Spark side
# returns.
_X_PHASH_SIG_BODY = r"""norm0 AS (
  -- explicit class, not \s: Python str.split() includes \x0b
  -- (vertical tab) where RE2's \s does not; the fixture is ASCII
  -- (verified), so matching the 6 ASCII whitespace chars matches
  -- Python exactly
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')) AS s
  FROM documents),
norm AS (
  -- mirror render_thumbnail's NUL padding: texts shorter than one
  -- 3-gram pad with \x00 so they still emit exactly one gram (without
  -- this, range(1, len-1) is empty and the signature silently drops
  -- to 0 while Python hashes the padded gram)
  SELECT doc_id,
         CASE WHEN length(s) < 3
              THEN s || repeat(chr(0), 3 - length(s)) ELSE s END AS s
  FROM norm0),
grams AS (
  SELECT DISTINCT doc_id,
         CAST(ord(substr(s, CAST(i AS INTEGER), 1)) AS BIGINT)
         + CAST(ord(substr(s, CAST(i AS INTEGER) + 1, 1)) AS BIGINT) * 256
         + CAST(ord(substr(s, CAST(i AS INTEGER) + 2, 1)) AS BIGINT) * 65536
           AS code
  FROM norm, UNNEST(range(1, length(s) - 1)) AS t(i)),
hashed AS (
  SELECT doc_id, (code * 1103515245 + 12345) % 2147483647 AS h FROM grams),
grid AS (
  SELECT doc_id, h % 72 AS cell, MIN((h // 72) % 256) AS luma
  FROM hashed GROUP BY doc_id, h % 72),
full_grid AS (
  SELECT d.doc_id, i.cell, COALESCE(g.luma, 0) AS luma
  FROM (SELECT DISTINCT doc_id FROM norm) d
  CROSS JOIN (SELECT unnest(range(0, 72)) AS cell) i
  LEFT JOIN grid g ON g.doc_id = d.doc_id AND g.cell = i.cell),
bits AS (
  SELECT a.doc_id, ((a.cell // 9) * 8 + (a.cell % 9)) AS bit
  FROM full_grid a JOIN full_grid b
    ON a.doc_id = b.doc_id AND b.cell = a.cell + 1
  WHERE a.cell % 9 < 8 AND a.luma < b.luma),
sig AS (
  SELECT d.doc_id,
         CAST(COALESCE(SUM(CASE WHEN b.bit < 63
                  THEN (CAST(1 AS BIGINT) << CAST(b.bit AS INTEGER)) END), 0)
              + COALESCE(MAX(CASE WHEN b.bit = 63
                  THEN CAST(-9223372036854775808 AS BIGINT) END), 0)
              AS BIGINT) AS phash
  FROM (SELECT DISTINCT doc_id FROM norm) d
  LEFT JOIN bits b ON b.doc_id = d.doc_id
  GROUP BY d.doc_id)"""

_X_PHASH_SIG_CTE = "WITH " + _X_PHASH_SIG_BODY

_X_PHASH_DEDUP_SQL = (
    _X_PHASH_SIG_CTE
    + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
"""
)


@_q("x_mm_phash_dedup", _X_PHASH_DEDUP_SQL)
def x_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image CONTENT near-dup pairs: perceptual dHash over the decoded
    pixel grid via one mapInPandas stage, then banded Hamming buckets
    reusing the SimHash banding engine (8 x 8-bit bands, complete for
    hamming <= 7 by pigeonhole; threshold 6). Payloads are stored raw
    thumbnails — rendered deterministically from the documents fixture
    (render_thumbnail: shift-invariant + edit-local, the properties a
    real decode+resize provides) and staged to parquet first, so the
    dedup plan itself reads (id, payload) exactly as it would an image
    table; planted near-dup docs land at Hamming 0-2 vs >= 13 for
    unrelated, so this returns real pairs. ORACLE-CHECKED since r10:
    render_thumbnail's affine-mod-prime hash restates in BIGINT SQL
    (_X_PHASH_SIG_CTE above) and banding completeness lets the oracle
    state ground truth as ALL pairs within the radius — so the driver
    hash-checks decode, signature, AND candidate join end-to-end.
    Banding completeness vs a brute-force Hamming scan and the
    edit-locality property remain pinned in tests/test_multimodal.py."""
    d = _scratch_dir("spark_graft_phash_") + "/thumbs"
    multimodal.attach_thumbnail_payload(
        load_table(spark, sf_dir, "documents")
    ).write.mode("overwrite").parquet(d)
    return multimodal.phash_dup_pairs(spark.read.parquet(d))


def _fill_cache_small_files(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Materialize a CACHED one-file-per-item binaryFile scan under a
    bracketed ``spark.sql.files.openCostInBytes`` (VERDICT r15 task 2).

    The default open cost pads every file to 4 MB when packing files
    into scan partitions, so a directory of thousands of ~100-byte
    assets plans thousands of near-empty tasks — the measured 12.7x
    third decade of x_mm_ingest_pipeline at sf1 was pure task-schedule
    overhead, not data. Dropping the padding to 4 KB for exactly this
    scan repacks it to ~cores-sized partitions. The conf is read at
    scan PLANNING time, so the bracket must cover the first action:
    filling the cache here pins the repacked partitioning into the
    InMemoryRelation every downstream consumer reuses, and the finally
    restores the session default so no other query's plan changes (the
    same bracket-and-restore discipline as the bloom-filter query).

    At 100 TB the honest fix is upstream layout (the compaction
    operator packs small assets into ~128 MB files); this is the
    query-side relief when you cannot rewrite the bucket."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "4096")
        df.count()
    finally:
        spark.conf.set(key, old)
    return df


_X_MM_BINARY_INGEST_SQL = (
    _X_PHASH_SIG_CTE
    + """
SELECT 'doc_' || doc_id || '.bin' AS file_name,
       CAST(COUNT(*) AS BIGINT) AS n_bytes,
       string_agg(upper(lpad(to_hex(luma), 2, '0')), '' ORDER BY cell)
         AS content_hex
FROM full_grid
GROUP BY doc_id
"""
)


@_q("x_mm_binary_ingest", _X_MM_BINARY_INGEST_SQL)
def x_mm_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-of-binary-files ingest (sources/readers.py::
    read_binary_dir — Spark's built-in ``binaryFile`` source): the
    documents' thumbnail payloads are staged as one .bin FILE each
    (executor-side foreachPartition writes — the shape a real image
    bucket lands in), then read back as (file_name, n_bytes, content)
    rows with the content hex-encoded for the driver hash. The oracle
    RECONSTRUCTS the expected bytes independently from the documents
    table (the same luma-grid CTE the phash twin rebuilds, hex-encoded
    in cell order), so filename mapping, file sizes, AND byte-exact
    content of the whole staging + binaryFile read path are
    hash-checked with no file dependency on the oracle side."""
    import os

    # per-invocation scratch (ADVICE r14): a fixed path races — the
    # dual-SF sweep rebuilds this dir at another SF before the first
    # frame's action reads it lazily. Same rule as every _scratch_dir
    # sibling; the root is SPARK_GRAFT_SCRATCH_ROOT-configurable.
    d = _scratch_dir("spark_graft_binary_ingest_") + "/files"
    os.makedirs(d, exist_ok=True)
    payloads = multimodal.attach_thumbnail_payload(
        load_table(spark, sf_dir, "documents")
    )

    def _write_files(rows) -> None:
        for r in rows:
            with open(os.path.join(d, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(bytes(r["payload"]))

    payloads.foreachPartition(_write_files)
    from ..sources.readers import read_binary_dir

    files = _fill_cache_small_files(
        spark, dedup._cached(read_binary_dir(spark, d, glob="*.bin"))
    )
    return files.select(
        "file_name",
        "n_bytes",
        F.hex(F.col("content")).alias("content_hex"),
    )


_X_MM_RESIZE_SQL = (
    _X_PHASH_SIG_CTE
    + """
SELECT doc_id,
       CAST((cell // 9) // 2 AS INTEGER) AS out_row,
       CAST((cell % 9) // 3 AS INTEGER) AS out_col,
       CAST(SUM(luma) // 6 AS BIGINT) AS luma
FROM full_grid
GROUP BY 1, 2, 3
"""
)


@_q("x_mm_resize", _X_MM_RESIZE_SQL)
def x_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE (box-average pooling 9x8 -> 3x4) over the raw
    thumbnail bitmaps, one scalar row per output pixel — the standalone
    resize stage of the decode / feature-extract / resize /
    frame-sample multimodal quartet (operators/multimodal.py
    resize_luma_grid). Payloads stage to parquet first so the plan
    reads a binary column exactly as it would an image table; pooling
    is exact integer math (block SUM floor-divided by block size), so
    the oracle restates it in SQL on the same full_grid CTE the phash
    twin rebuilds — decode AND resize hash-checked end-to-end. On real
    images only a PIL/libvips decode slots in front; the Spark
    plumbing (binary in, Arrow batches, scalarized pixels out) is what
    this verifies."""
    d = _scratch_dir("spark_graft_resize_") + "/thumbs"
    multimodal.attach_thumbnail_payload(
        load_table(spark, sf_dir, "documents")
    ).write.mode("overwrite").parquet(d)
    return multimodal.resize_luma_grid(spark.read.parquet(d))


_X_MM_PIPELINE_SQL = (
    _X_PHASH_SIG_CTE
    + """,
resized AS (
  SELECT doc_id, (cell // 9) // 2 AS out_row, (cell % 9) // 3 AS out_col,
         SUM(luma) // 6 AS rl
  FROM full_grid GROUP BY 1, 2, 3),
checksum AS (
  SELECT doc_id,
         CAST(SUM(rl * (1 + out_row * 3 + out_col)) AS BIGINT)
           AS resize_checksum
  FROM resized GROUP BY doc_id),
partners AS (
  SELECT s.doc_id,
         CAST(COUNT(o.doc_id) AS BIGINT) AS n_dup_partners
  FROM sig s LEFT JOIN sig o
    ON o.doc_id <> s.doc_id
   AND bit_count(xor(s.phash, o.phash)) <= 6
  GROUP BY s.doc_id)
SELECT c.doc_id,
       'doc_' || c.doc_id || '.bin' AS file_name,
       CAST(72 AS BIGINT) AS n_bytes,
       c.resize_checksum,
       p.n_dup_partners
FROM checksum c JOIN partners p USING (doc_id)
"""
)


@_q("x_mm_ingest_pipeline", _X_MM_PIPELINE_SQL)
def x_mm_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal quartet composed END-TO-END over a real file
    ingest (the r13 verdict's ask): thumbnails staged as one .bin FILE
    per document (executor-side writes — the shape an image bucket
    lands in) -> binaryFile directory read (sources/readers.py::
    read_binary_dir) -> decode+RESIZE (resize_luma_grid, folded to a
    position-weighted integer checksum so one row per doc pins all 12
    output pixels) -> dHash near-dup pair join (phash_dup_pairs,
    banded Hamming — counted per doc as n_dup_partners).

    The oracle NEVER sees the files: it reconstructs expected bytes,
    resize checksums, and the complete <=6-Hamming partner counts
    independently from the documents table (the same luma-grid CTE the
    phash/resize twins rebuild). A corrupted byte anywhere in the
    stage -> write -> binaryFile -> Arrow decode chain flips the
    checksum or the phash, so ingest fidelity, resize math, signature,
    AND candidate-join completeness are hash-checked in ONE query.

    Scale shape: file listing is driver-side but content reads are
    executor tasks (binaryFile source); payloads cross into Python
    exactly twice (resize, signature) as Arrow batches over a cached
    72-byte-payload frame; the pair join shuffles 8-byte signatures,
    never pixels; everything downstream is keyed aggregation. The scan
    itself materializes under the small-file openCostInBytes bracket
    (_fill_cache_small_files, r16) — without it the default 4 MB open
    cost planned ~4,700 near-empty tasks at sf1 and the query's third
    scaling decade measured 12.7x on 10x docs."""
    import os

    d = _scratch_dir("spark_graft_mm_pipeline_") + "/files"
    os.makedirs(d, exist_ok=True)
    payloads = multimodal.attach_thumbnail_payload(
        load_table(spark, sf_dir, "documents")
    )

    def _write_files(rows) -> None:
        for r in rows:
            with open(os.path.join(d, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(bytes(r["payload"]))

    payloads.foreachPartition(_write_files)
    from ..sources.readers import read_binary_dir

    ingested = _fill_cache_small_files(
        spark,
        dedup._cached(
            read_binary_dir(spark, d, glob="*.bin").select(
                F.regexp_extract("file_name", r"doc_(\d+)\.bin", 1)
                .cast("long")
                .alias("doc_id"),
                "file_name",
                "n_bytes",
                F.col("content").alias("payload"),
            )
        ),
    )
    checksum = (
        multimodal.resize_luma_grid(ingested)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("luma")
                * (F.lit(1) + F.col("out_row") * 3 + F.col("out_col"))
            )
            .cast("long")
            .alias("resize_checksum")
        )
    )
    pairs = multimodal.phash_dup_pairs(ingested)
    partners = (
        ingested.select("doc_id")
        .join(
            pairs.select(F.col("doc_a").alias("doc_id"))
            .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_dup_partners")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("n_dup_partners", F.lit(0)).cast("long").alias(
                "n_dup_partners"
            ),
        )
    )
    return (
        ingested.select("doc_id", "file_name", "n_bytes")
        .join(checksum, "doc_id")
        .join(partners, "doc_id")
        .select(
            "doc_id", "file_name", "n_bytes", "resize_checksum",
            "n_dup_partners",
        )
    )


@_q(
    "x_mm_frame_sample",
    "SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, "
    "CAST(f * 100 AS INTEGER) AS byte_offset FROM "
    "(SELECT doc_id, unnest(range(octet_length(encode(text)) // 100 + 1)) AS f "
    "FROM documents)",
)
def x_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out: one row per sampled frame via sequence +
    posexplode (pure built-ins)."""
    d = multimodal.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(d)


# --------------------------------------------------------------------------
# Time-series joins (as-of, banded range) — SURVEY §7 extension set
# --------------------------------------------------------------------------

_X_ASOF_SQL = """
WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase')
SELECT l.user_id, l.event_id, l.ts,
       r.ts AS matched_ts, r.value AS matched_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@_q("x_ts_asof_join", _X_ASOF_SQL)
def x_ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click matched to the user's most recent
    purchase at-or-before it (tagged-union + one window pass — the
    inequality never reaches a join operator, so no nested loop at any
    scale). Oracle: DuckDB's native ASOF LEFT JOIN. value passes through
    un-aggregated, so doubles hash bit-identically."""
    from ..operators.timeseries import asof_join_backward
    from ..sources.readers import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join_backward(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_cols={"ts": "matched_ts", "value": "matched_value"},
    )


_X_RANGE_SQL = """
SELECT e.user_id, e.event_id,
       CAST(COUNT(x.ts) AS BIGINT) AS n_in_range
FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) x
  ON x.user_id = e.user_id
 AND x.ts BETWEEN e.ts - INTERVAL 5 MINUTE AND e.ts
GROUP BY 1, 2
"""


@_q("x_ts_range_join", _X_RANGE_SQL)
def x_ts_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: events per user within the 5 minutes before
    each error. Band width == window, probe explodes into <= 2 bands,
    events land in exactly one — a plain equi-join on (user, band) with
    the exact range as a post-filter, vs the nested-loop plan a raw
    inequality join would get."""
    from ..operators.timeseries import range_join_count
    from ..sources.readers import load_events

    ev = load_events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    return range_join_count(
        errors, ev.select("user_id", "ts"), on="user_id",
        window_seconds=300, count_alias="n_in_range",
    ).select("user_id", "event_id", "n_in_range")


_X_LATEST_SQL = """
SELECT user_id, event_id, ts, value FROM (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC)
           AS rn
  FROM events) WHERE rn = 1
"""


@_q("x_ingest_latest_by_key", _X_LATEST_SQL)
def x_ingest_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style ingestion dedup: keep each key's latest record (ties on
    ts broken by event_id so the survivor is total-ordered). One window
    shuffle on the key; at scale this is the standard
    changelog-to-snapshot collapse that precedes an SCD-2 upsert."""
    from pyspark.sql import Window as W

    from ..sources.readers import load_events

    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        load_events(spark, sf_dir)
        .select("user_id", "event_id", "ts", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# Deterministic synthetic CDC changelog over orders: every key gets an
# insert at seq 1; keys %3==0 get a price-raising update at seq 2; keys
# %10==0 get a tombstone at seq 3 (so some keys see I -> U -> D — the
# delete must win). Both engines state the identical feed.
_X_CDC_SQL = """
WITH feed AS (
  SELECT o_orderkey, 1 AS seq, 'I' AS op, o_orderstatus, o_totalprice AS price
  FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'U', o_orderstatus, o_totalprice * 1.1
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', o_orderstatus, CAST(0.0 AS DOUBLE)
  FROM orders WHERE o_orderkey % 10 = 0),
latest AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
  FROM feed)
SELECT o_orderkey, seq, o_orderstatus, price
FROM latest WHERE rn = 1 AND op <> 'D'
"""


@_q("x_ingest_cdc_apply", _X_CDC_SQL)
def x_ingest_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog -> current snapshot WITH tombstones: latest record
    per key by sequence, keys whose latest op is a delete drop out
    (operators/incremental.py cdc_apply). Extends x_ingest_latest_by_key
    with the delete semantics real feeds (Debezium/DMS) carry; the
    I->U->D keys in the synthetic feed pin the replay-ordering rule that
    tombstones must be sequenced WITH upserts, not filtered first.
    price stays a single double multiply — bit-identical cross-engine."""
    from ..operators.incremental import cdc_apply

    o = load_table(spark, sf_dir, "orders")
    ins = o.select(
        "o_orderkey",
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        "o_orderstatus",
        (F.col("o_totalprice") * 1.1).alias("price"),
    )
    dele = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
        "o_orderstatus",
        F.lit(0.0).alias("price"),
    )
    feed = ins.unionByName(upd).unionByName(dele)
    return cdc_apply(feed, ["o_orderkey"], ["seq"])


# Incremental dedup over two synthesized batches: batch 1 = the corpus;
# batch 2 = every batch-1 text re-delivered under doc_id+1000000 plus no
# genuinely new text. First-arrival-wins => admitted = batch 1's
# min-id-per-fingerprint survivors; every batch-2 row deduplicates away.
# The oracle states that end state directly from the same feed.
_X_INC_DEDUP_SQL = f"""
WITH b1 AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents),
b2 AS (
  SELECT doc_id + 1000000 AS doc_id, md5({_NORM_SQL}) AS fp FROM documents),
a1 AS (SELECT fp, MIN(doc_id) AS doc_id FROM b1 GROUP BY fp),
a2 AS (
  SELECT fp, MIN(doc_id) AS doc_id FROM b2 GROUP BY fp),
admitted2 AS (
  SELECT a2.doc_id, a2.fp FROM a2 LEFT JOIN a1 USING (fp) WHERE a1.fp IS NULL)
SELECT doc_id, fp FROM a1
UNION ALL SELECT doc_id, fp FROM admitted2
"""


@_q("x_ingest_incremental_dedup", _X_INC_DEDUP_SQL)
def x_ingest_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup against a committed fingerprint store
    (operators/incremental.py dedup_ingest): ingest the corpus as batch
    one, then re-deliver every text under shifted ids as batch two — the
    second batch must dedup away ENTIRELY against the store, without
    rescanning batch one's documents. Admitted = both batches' union of
    first-arrival survivors; the oracle recomputes that end state from
    the same synthetic feed. The batch analog of streaming
    dropDuplicatesWithinWatermark, with exact unbounded state."""
    from ..operators.incremental import dedup_ingest
    from ..sources.txn import Catalog

    store = Catalog(_scratch_dir("spark_graft_dedupstore_"))
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.select("doc_id", "text")
    b2 = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    fp = tx.content_fingerprint(F.col("text"))
    adm1 = dedup_ingest(spark, store, "fp_store", b1, "doc_id", fp)
    adm1 = adm1.localCheckpoint(eager=True)  # pin before store advances
    adm2 = dedup_ingest(spark, store, "fp_store", b2, "doc_id", fp)
    return adm1.unionByName(adm2)


# Deterministic three-clause changeset over customer: updates for keys
# %7 (minus %11 overlaps, keeping the source key-unique), deletes for
# %11, inserts at key+500000 for %13. Both engines state the same feed
# and the same clause semantics (delete wins; first-match-only).
_X_MERGE_SQL = """
WITH src AS (
  SELECT c_custkey, 'U' AS op, c_name, c_nationkey,
         c_acctbal + 100 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
  UNION ALL
  SELECT c_custkey, 'D', c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 11 = 0
  UNION ALL
  SELECT c_custkey + 500000, 'I', c_name || '_new', c_nationkey,
         CAST(1.0 AS DOUBLE), 'NEW'
  FROM customer WHERE c_custkey % 13 = 0)
SELECT t.c_custkey,
       CASE WHEN s.op = 'U' THEN s.c_name ELSE t.c_name END AS c_name,
       CASE WHEN s.op = 'U' THEN s.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
       CASE WHEN s.op = 'U' THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
       CASE WHEN s.op = 'U' THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
FROM customer t LEFT JOIN src s ON s.c_custkey = t.c_custkey
WHERE s.op IS NULL OR s.op <> 'D'
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM src WHERE c_custkey NOT IN (SELECT c_custkey FROM customer)
"""


@_q("x_merge_into", _X_MERGE_SQL)
def x_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-clause MERGE INTO (WHEN MATCHED UPDATE / WHEN MATCHED
    DELETE / WHEN NOT MATCHED INSERT) as one declarative plan
    (operators/merge.py) — the general form of the reference's
    UPDATE+INSERT pair (SURVEY §2.9 M1/M4) and the direct port target
    for warehouse MERGE statements. The changeset broadcasts (small
    side); one pass over the target."""
    from ..operators.merge import merge_into

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd = c.filter((k % 7 == 0) & (k % 11 != 0)).select(
        "c_custkey", F.lit("U").alias("op"), "c_name", "c_nationkey",
        (F.col("c_acctbal") + 100).alias("c_acctbal"), "c_mktsegment",
    )
    dele = c.filter(k % 11 == 0).select(
        "c_custkey", F.lit("D").alias("op"), "c_name", "c_nationkey",
        "c_acctbal", "c_mktsegment",
    )
    ins = c.filter(k % 13 == 0).select(
        (k + 500000).alias("c_custkey"), F.lit("I").alias("op"),
        F.concat(F.col("c_name"), F.lit("_new")).alias("c_name"),
        "c_nationkey", F.lit(1.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    src = upd.unionByName(dele).unionByName(ins)
    return merge_into(
        c, src, "c_custkey",
        update_set={
            col: F.col(f"src.{col}")
            for col in ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        },
        update_cond=F.col("src.op") == "U",
        delete_cond=F.col("src.op") == "D",
    )


_X_SCHEMA_EVO_SQL = """
SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey % 2 = 1
"""


@_q("x_ingest_schema_evolution", _X_SCHEMA_EVO_SQL)
def x_ingest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingestion: an early batch written WITHOUT a
    column and a later batch WITH it read back as ONE table via
    mergeSchema — old rows surface NULL for the added column (the
    add-nullable-column evolution contract parquet supports natively;
    renames/drops need a table format). mergeSchema reconciles footers
    at planning time — a per-file metadata read, no data pass; day-to-day
    reads of a settled schema should pass an explicit schema instead and
    skip the reconcile cost."""
    from ..sources.readers import write_append

    o = load_table(spark, sf_dir, "orders")
    root = _scratch_dir("spark_graft_schemaevo_")
    write_append(
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ),
        f"{root}/b1",
    )
    write_append(
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ),
        f"{root}/b2",
    )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{root}/b1", f"{root}/b2")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


_X_SESS_BATCH_SQL = """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
lagged AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM e),
marked AS (
  SELECT user_id, ts,
         CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM lagged),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY 1, 2
"""


@_q("x_ts_sessionize_batch", _X_SESS_BATCH_SQL)
def x_ts_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) as a batch plan — the
    lag-mark-cumsum idiom, oracle-checked; semantically the batch twin
    of x_stream_sessionize (tests assert the streaming operator's
    emitted sessions agree with these)."""
    from ..operators.timeseries import sessionize_batch
    from ..sources.readers import load_events

    ev = load_events(spark, sf_dir).select("user_id", "ts")
    return sessionize_batch(ev, "user_id", "ts", gap_minutes=30)


_X_GAP_FILL_SQL = """
WITH sparse AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN event_id % 3 = 0
              THEN CAST(value AS DOUBLE) ELSE NULL END AS v
  FROM events)
SELECT event_id, user_id, ts, v,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
FROM sparse
"""


@_q("x_ts_gap_fill", _X_GAP_FILL_SQL)
def x_ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF — last observation carried forward) over a
    sparse per-user time series: the gap-repair step before feeding
    irregular sensor/metric streams to a model. The fixture's series is
    sparsified deterministically (value kept only when event_id % 3 =
    0) so both engines fill the identical gaps; rows before a user's
    first observation stay NULL — LOCF, not interpolation.

    One window, one shuffle on user_id, running last(ignorenulls) —
    O(1) state per row within the frame, no self-join, no UDF. The
    (ts, event_id) order key makes the fill deterministic under equal
    timestamps. Values pass through untouched (no arithmetic), so
    doubles are hash-safe."""
    from ..sources.readers import load_events

    e = load_events(spark, sf_dir)
    sparse = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 3 == 0, F.col("value").cast("double"))
        .alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sparse.withColumn(
        "v_filled", F.last("v", ignorenulls=True).over(w)
    )


_X_HISTOGRAM_SQL = """
SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN 0
            WHEN CAST(o_totalprice AS DOUBLE) >= 500000.0 THEN 21
            ELSE CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 25000.0) AS INT)
                 + 1 END AS bucket,
       COUNT(*) AS n,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
FROM orders
GROUP BY 1
"""


@_q("x_olap_histogram", _X_HISTOGRAM_SQL)
def x_olap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (the data-profiling /
    skew-inspection aggregate): 20 buckets of width 25000 over
    [0, 500000), out-of-range values in sentinel buckets 0 and 21 —
    width_bucket semantics, but stated as one explicit CASE/FLOOR
    expression evaluated IDENTICALLY in both engines (DuckDB has no
    width_bucket; and a builtin-vs-builtin pairing would couple the
    hash gate to two implementations' edge conventions). One
    map-side-combined groupBy over at most 22 groups; MIN/MAX per
    bucket are selections, not arithmetic, so doubles stay hash-safe."""
    o = load_table(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("double")
    bucket = (
        F.when(v < 0.0, F.lit(0))
        .when(v >= 500000.0, F.lit(21))
        .otherwise(F.floor(v / F.lit(25000.0)).cast("int") + 1)
    )
    return (
        o.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").cast("double").alias("lo"),
            F.max("o_totalprice").cast("double").alias("hi"),
        )
    )


_X_SESS_NATIVE_SQL = """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
lagged AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM e),
marked AS (
  SELECT user_id, ts,
         CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM lagged),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end_x,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


@_q("x_ts_sessionize_native", _X_SESS_NATIVE_SQL)
def x_ts_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE session_window — the
    built-in dynamic-gap session operator (one grouped agg, window
    merge inside the aggregation; no lag/cumsum window chain, and the
    same expression works unchanged under readStream). Semantics twin
    of x_ts_sessionize_batch with two deliberate deltas the oracle
    states: (1) session_window's range is [first, last + gap), so an
    event EXACTLY gap after its predecessor starts a NEW session
    (>= in the oracle's split condition, vs > in the lag/cumsum
    formulation); (2) the emitted end is the exclusive window end
    (last event + gap), aliased session_end_x to keep the two
    catalog entries' schemas visibly distinct."""
    from ..sources.readers import load_events

    ev = load_events(spark, sf_dir).select("user_id", "ts")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end_x"),
            "n_events",
        )
    )


@_q(
    "x_json_extract",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k "
    "FROM events",
)
def x_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of a JSON props
    column (get_json_object — JVM-side JSON path, no UDF)."""
    from ..sources.readers import load_events

    return load_events(spark, sf_dir).select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )


@_q(
    "x_olap_count_distinct",
    "SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust "
    "FROM orders GROUP BY o_orderpriority",
)
def x_olap_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped COUNT(DISTINCT): Spark plans the two-phase expand +
    partial-distinct aggregation (dedup happens map-side per group before
    the final shuffle)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_cust"))
    )


@_q(
    "x_olap_percentiles",
    "SELECT l_returnflag, "
    "unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS q, "
    "unnest(pct) AS pct_value "
    "FROM (SELECT l_returnflag, "
    "      quantile_cont(l_extendedprice, [0.25, 0.5, 0.9]) AS pct "
    "      FROM lineitem GROUP BY l_returnflag)",
)
def x_olap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (linear interpolation — verified
    bit-identical to DuckDB's quantile_cont, including fractional
    interpolation positions). Exact percentile sorts within each group;
    the sketch alternative at extreme scale is approx_percentile
    (t-digest), same plumbing.

    Output is SCALARIZED — one (group, q, value) row per percentile
    instead of an array column — because the driver's canonicalizer
    cannot hash array cells (r05 lesson; parallel unnests zip in the
    DuckDB oracle)."""
    qs = [0.25, 0.5, 0.9]
    agg = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.9))").alias(
                "pct"
            )
        )
    )
    return agg.select(
        "l_returnflag", F.posexplode("pct").alias("pos", "pct_value")
    ).select(
        "l_returnflag",
        F.element_at(
            F.array(*[F.lit(q) for q in qs]), F.col("pos") + 1
        ).alias("q"),
        "pct_value",
    )


_X_APPROX_PCT_SQL = """
SELECT l_returnflag, q, CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS rank_ok
FROM lineitem CROSS JOIN (VALUES (CAST(0.25 AS DOUBLE)),
                                 (CAST(0.5 AS DOUBLE)),
                                 (CAST(0.9 AS DOUBLE))) AS qs(q)
GROUP BY l_returnflag, q
"""


@_q("x_olap_approx_percentiles", _X_APPROX_PCT_SQL)
def x_olap_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch tier of x_olap_percentiles: approx_percentile with
    accuracy=10000 — bounded memory per group at any scale where the
    exact tier's per-group sort would spill.

    QUANTITATIVE oracle gate (r18, upgraded from rows-only — VERDICT
    r17 task #5): Greenwald-Khanna's DETERMINISTIC guarantee is on
    RANK, not value — the returned element v satisfies
    min_rank(v) <= (q + eps) x N and max_rank(v) >= (q - eps) x N
    with eps = 1/accuracy, for EVERY run regardless of how the
    per-partition summaries merge (the merged eps doubles in the
    worst case, so the gate uses 2/accuracy + 1 row of slack). The
    output hashes each group's row count (SQL-statable) plus the
    rank_ok boolean — true on any conforming run even though the
    sketch VALUE may jitter across partition merge orders, which is
    exactly what made the raw value rows-only. The sketch still runs
    on every invocation; value-level accuracy is additionally pinned
    in tests/test_timeseries.py."""
    qs = [0.25, 0.5, 0.9]
    eps = 2.0 / 10000.0
    li = load_table(spark, sf_dir, "lineitem")
    approx = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.9), 10000)"
            ).alias("pct")
        )
        .select(
            "l_returnflag", F.posexplode("pct").alias("pos", "v")
        )
        .select(
            "l_returnflag",
            F.element_at(
                F.array(*[F.lit(q) for q in qs]), F.col("pos") + 1
            ).alias("q"),
            "v",
        )
    )
    ranks = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(approx), on="l_returnflag")
        .groupBy("l_returnflag", "q", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("v"), 1).otherwise(0)
            ).alias("n_le"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("v"), 1).otherwise(0)
            ).alias("n_lt"),
        )
    )
    return ranks.select(
        "l_returnflag",
        "q",
        "n_rows",
        (
            (F.col("n_le") >= (F.col("q") - eps) * F.col("n_rows") - 1)
            & (F.col("n_lt") <= (F.col("q") + eps) * F.col("n_rows") + 1)
        ).alias("rank_ok"),
    )


_X_APPROX_DISTINCT_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust_exact,
       TRUE AS within_tolerance
FROM orders GROUP BY o_orderpriority
"""


@_q("x_olap_approx_distinct", _X_APPROX_DISTINCT_SQL)
def x_olap_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts (the sketch tier of
    x_olap_count_distinct): constant memory per group at any scale.

    QUANTITATIVE oracle gate (r18, upgraded from rows-only — VERDICT
    r17 task #5): the sketch value itself has no DuckDB counterpart,
    but its ERROR CONTRACT does — the output carries the exact count
    (SQL-statable) plus a boolean asserting |approx - exact| <=
    3 x rsd x exact. HLL++ is hash-based and its merge is
    register-max (order-insensitive), so the boolean is deterministic
    for a given dataset; measured error across all fixture SFs is
    < 0.9% vs the 6% gate. The sketch aggregation still RUNS on every
    invocation — the gate hashes its accuracy, not just its plumbing.
    (Numeric accuracy is additionally pinned to 2% in
    tests/test_timeseries.py.)"""
    rsd = 0.02
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=rsd).alias("approx"),
            F.count_distinct("o_custkey").cast("long").alias("n_cust_exact"),
        )
        .select(
            "o_orderpriority",
            "n_cust_exact",
            (
                F.abs(F.col("approx") - F.col("n_cust_exact"))
                <= 3 * rsd * F.col("n_cust_exact")
            ).alias("within_tolerance"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic sampling (reproducible corpus builds)
# --------------------------------------------------------------------------


@_q(
    "x_sample_hash",
    "SELECT doc_id, lang FROM documents "
    "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'",
)
def x_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% Bernoulli sample keyed on doc_id (md5-prefix
    threshold 0x4000/0x10000). A pure function of the data — stable
    across runs, partitionings, and engines, unlike df.sample(seed)."""
    from ..operators.sampling import sample_by_hash

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_by_hash(d, "doc_id", rate=0.25)


@_q(
    "x_sample_stratified",
    "SELECT doc_id, lang FROM ("
    "  SELECT doc_id, lang, ROW_NUMBER() OVER ("
    "    PARTITION BY lang "
    "    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rn"
    "  FROM documents) WHERE rn <= 20",
)
def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced subsample: exactly 20 docs per language, chosen by hash
    order (deterministic stratified sampling; one shuffle on the
    stratum key)."""
    from ..operators.sampling import stratified_fixed_n

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_fixed_n(d, ["lang"], "doc_id", 20)


# --------------------------------------------------------------------------
# Streaming
# --------------------------------------------------------------------------


@_q(
    "x_stream_window_agg",
    "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, "
    "event_type, COUNT(*) AS n_events, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value "
    "FROM events GROUP BY 1, 2",
)
def x_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation driven to
    completion over the events fixture (memory sink, complete mode);
    result equals the batch windowed aggregate, which the oracle states."""
    return run_stream_to_batch(spark, sf_dir)


_X_STREAM_SESS_SQL = """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
lagged AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM e),
marked AS (
  SELECT user_id, ts,
         CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM lagged),
sess AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked),
s AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events
  FROM sess GROUP BY user_id, session_id),
wm AS (
  SELECT CAST(FLOOR(epoch_us(MAX(CAST(ts AS TIMESTAMP))) / 1000) AS BIGINT)
         - 60000 AS w_ms
  FROM events)
SELECT user_id, session_start, session_end, n_events
FROM s, wm
WHERE CAST(FLOOR(epoch_us(session_end) / 1000) AS BIGINT) + 1800000 < w_ms
"""


@_q("x_stream_sessionize", _X_STREAM_SESS_SQL)
def x_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: applyInPandasWithState sessionization
    (30-min gap) over the event stream.

    Deterministic on a finite source, so oracle-checked (r06 verdict
    #2): emitted rows are exactly the batch sessions whose event-time
    timeout fired — i.e. sessions with ``floor_ms(session_end) + gap <
    floor_ms(max_ts) - 1min`` (Spark tracks watermark and GroupState
    timeouts in MILLISECONDS — micros floor-divided by 1000 — which the
    oracle mirrors with epoch_us()/1000 so microsecond event times
    can't straddle the boundary differently in the two engines). The
    per-user trailing session the watermark never passes stays pending,
    which the oracle's WHERE clause states."""
    return sessionize_stateful(spark, sf_dir)


@_q(
    "x_stream_dedup",
    "SELECT DISTINCT event_id, user_id, event_type FROM events",
)
def x_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup over an at-least-once source: the event
    stream unioned with itself (every event delivered twice) collapses
    back to one row per event_id via dropDuplicatesWithinWatermark —
    state bounded by the watermark horizon, not keys-ever-seen.
    Deterministic (event_id is unique in the fixture, so exactly one
    survivor per id with fixed payload), hence oracle-checked as plain
    DISTINCT over the base table (r06 verdict #2); equivalence also
    asserted in tests/test_streaming.py."""
    from ..streaming.events import (
        dedup_stream,
        drain_stream,
        read_events_stream,
    )

    doubled = read_events_stream(spark, sf_dir).unionByName(
        read_events_stream(spark, sf_dir)
    )
    deduped = dedup_stream(doubled).select("event_id", "user_id", "event_type")
    return drain_stream(deduped, "events_dedup", "append")


@_q(
    "x_stream_static_join",
    "SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events "
    "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey "
    "GROUP BY 1",
)
def x_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins each micro-batch
    against the customer dimension snapshot (broadcast per batch, the
    stream side never shuffles). Per-segment counts materialized via
    the memory sink in complete mode — a deterministic grouped count,
    so oracle-checked as the equivalent batch join (r06 verdict #2)."""
    from ..streaming.events import (
        drain_stream,
        enrich_stream_static,
        read_events_stream,
    )

    cust = load_table(spark, sf_dir, "customer")
    enriched = enrich_stream_static(
        read_events_stream(spark, sf_dir), cust, "user_id", "c_custkey"
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return drain_stream(agg, "events_enriched", "complete")


_X_STREAM_WM_APPEND_SQL = """
WITH e AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
         event_type
  FROM events),
agg AS (
  SELECT window_start, event_type, COUNT(*) AS n_events
  FROM e GROUP BY 1, 2),
wm AS (
  SELECT CAST(FLOOR(epoch_us(MAX(CAST(ts AS TIMESTAMP))) / 1000) AS BIGINT)
         - 600000 AS w_ms
  FROM events)
SELECT window_start, event_type, n_events
FROM agg, wm
WHERE CAST(FLOOR(epoch_us(window_start + INTERVAL 1 HOUR) / 1000) AS BIGINT)
      <= w_ms
"""


@_q("x_stream_watermark_append", _X_STREAM_WM_APPEND_SQL)
def x_stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode windowed aggregation: late rows beyond the
    10-min watermark drop, and only finalized windows emit (the trailing
    windows the watermark never passes stay pending by design).

    Deterministic on the single-file fixture (one micro-batch, so no
    row is ever late) and therefore oracle-checked (r07): emitted rows
    are exactly the hour windows whose end <= final watermark =
    floor_ms(max_ts) - 10 min, stated in the oracle with the same
    millisecond flooring Spark uses for watermark arithmetic."""
    from ..streaming.events import (
        drain_stream,
        read_events_stream,
        watermarked_event_agg,
    )

    agg = watermarked_event_agg(read_events_stream(spark, sf_dir))
    return drain_stream(agg, "events_wm_append", "append")


# The streaming ingest replays the m1b delta fixture batch-by-batch, so
# its final committed dim state is stated by the SAME oracle SQL.
@_q("x_stream_scd2_apply", _M1_DELTA_SQL)
def x_stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD-2 ingestion end-to-end: the m1b delta fixture's two
    source batches arrive as files on a streaming source; each
    trigger(availableNow) drain applies one micro-batch through the
    scd2_upsert kernel and commits the dim version with its ledger row
    in one catalog manifest (exactly-once). The final committed dim
    state equals the
    batch delta upsert over the same data — the oracle is m1b's SQL,
    verbatim. Per-invocation scratch via _scratch_dir: concurrent runs
    against the same sf_dir cannot race, and the copy is reclaimed at
    interpreter exit."""
    from ..sources.txn import Catalog
    from ..streaming.events import scd2_stream_apply
    from . import tpch_fixtures as fx

    root = _scratch_dir("spark_graft_scd2stream_")
    src_dir = f"{root}/src"
    cat = Catalog(f"{root}/wh")
    ckpt = f"{root}/ckpt"

    src = fx.ref_customers(spark, sf_dir)
    cols = list(fx.CUSTOMER_COLS)
    init = src.filter(F.col("CustomerID") % 3 != 0)
    batch = src.filter(F.col("CustomerID") % 2 == 0).withColumn(
        "Name",
        F.when(
            F.col("CustomerID") % 4 == 0, F.concat(F.col("Name"), F.lit(" v2"))
        ).otherwise(F.col("Name")),
    )
    schema = init.schema

    def drain(run_date) -> None:
        scd2_stream_apply(
            spark.readStream.schema(schema).format("parquet").load(src_dir),
            cat, "dim_customers", "CustomerID", tuple(cols), "CustomerKey",
            ckpt, run_date=run_date, mode="delta",
        )

    # batch 1 lands -> initial load; batch 2 lands -> delta re-version.
    # coalesce(1): one file per batch so each drain sees exactly one
    # micro-batch (maxFilesPerTrigger-free determinism at test SFs).
    init.coalesce(1).write.mode("append").parquet(src_dir)
    drain(fx.INITIAL_LOAD_DATE)
    batch.coalesce(1).write.mode("append").parquet(src_dir)
    drain(fx.SECOND_BATCH_DATE)
    return cat.read(spark, "dim_customers")


_X_STREAM_XO_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
"""


# staged streaming SOURCE fixture (events split into 3 files so the
# file source delivers 3 micro-batches at maxFilesPerTrigger=1), one
# per (process, sf_dir): the exactly-once and incremental-mv queries
# consume the IDENTICAL immutable source directory, so staging it once
# (r19) removes a redundant fixture write from the second consumer —
# the same stage-then-consume pattern as _staged_pair_weights. Each
# query invocation still uses its OWN catalog + checkpoint dirs; only
# the read-only source is shared.
_EVENTS_SRC_CACHE: dict[str, str] = register_stage_cache({}, paths=True)


def _staged_events_src(spark: SparkSession, sf_dir: str) -> str:
    from ..sources.readers import load_events

    path = _EVENTS_SRC_CACHE.get(sf_dir)
    if path is None:
        path = _scratch_dir("spark_graft_events_src_") + "/src"
        load_events(spark, sf_dir).repartition(3).write.mode(
            "overwrite"
        ).parquet(path)
        _EVENTS_SRC_CACHE[sf_dir] = path
    return path


@_q("x_stream_exactly_once", _X_STREAM_XO_SQL)
def x_stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest THROUGH THE CATALOG
    (streaming/exactly_once.py, r17 — the streaming analog of the
    reference's transaction bracket, dynamic_upsert.py:108,151): the
    event stream drains as multiple micro-batches (one file per
    trigger), each committed as ONE atomic manifest carrying both the
    hard-linked add-files append and a (app_id, batch_id) ledger row.
    A replayed micro-batch — foreachBatch's at-least-once failure
    mode, injected in-code after the drain — observes its ledger row
    and publishes nothing (head asserted unmoved). The committed sink
    therefore holds the source EXACTLY once, which is precisely what
    the oracle states: a per-type digest of raw events equals the
    same digest over the sink table."""
    from ..sources.readers import load_events
    from ..sources.txn import Catalog
    from ..streaming.exactly_once import (
        committed_batch_ids,
        exactly_once_batch_sink,
        stream_append_exactly_once,
    )

    root = _scratch_dir("spark_graft_xo_")
    events = load_events(spark, sf_dir)
    # staged 3-file source (one file per micro-batch; shared with the
    # incremental-mv query — see _staged_events_src)
    src = _staged_events_src(spark, sf_dir)
    cat = Catalog(f"{root}/wh")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_append_exactly_once(
        stream, cat, "events_ingest", f"{root}/ckpt", app_id="ingest"
    )
    # replay injection: redeliver a committed batch id — must no-op
    done = committed_batch_ids(cat, spark, "events_ingest", "ingest")
    if len(done) < 2:
        raise AssertionError("drain did not split into micro-batches")
    head_before = cat.head()
    exactly_once_batch_sink(cat, "events_ingest", "ingest")(
        events.limit(50), max(done)
    )
    if cat.head() != head_before:
        raise AssertionError("replayed micro-batch minted a commit")
    return cat.read(spark, "events_ingest").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


_X_STREAM_MV_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events GROUP BY event_type
"""


@_q("x_stream_incremental_mv", _X_STREAM_MV_SQL)
def x_stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once INCREMENTAL VIEW MAINTENANCE
    (streaming/exactly_once.py exactly_once_mv_sink, r17): every
    micro-batch commits the raw append AND the refolded per-type
    aggregate in ONE manifest — the multi-table analog of the
    reference's dim+fact BEGIN/COMMIT (populate_fact.py:91,135-144) on
    a stream. Per batch the view refold costs O(batch + view), never a
    rescan of raw history. In-code assertions: the raw sink equals the
    source exactly (count), a replayed batch moves neither table, and
    every committed manifest's diff contains raw+mv+ledger TOGETHER
    (atomicity, checked via the commit log). The returned view equals
    the oracle's direct aggregate over raw events — the materialized
    view invariant itself."""
    from ..sources.readers import load_events
    from ..sources.txn import Catalog
    from ..streaming.exactly_once import (
        committed_batch_ids,
        exactly_once_mv_sink,
    )

    root = _scratch_dir("spark_graft_mv_")
    events = load_events(spark, sf_dir)
    src = _staged_events_src(spark, sf_dir)
    cat = Catalog(f"{root}/wh")

    def mv_update(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        delta = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        if cur is None:
            return delta
        return (
            cur.unionByName(delta)
            .groupBy("event_type")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("id_sum").cast("long").alias("id_sum"),
            )
        )

    sink = exactly_once_mv_sink(cat, "events_raw", "events_mv", mv_update,
                                app_id="mv")
    q = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # atomicity: every data commit changed raw, mv, and ledger together
    for entry in cat.log():
        if "events_raw" in entry["changed"] and (
            "events_mv" not in entry["changed"]
            or "events_raw__commits" not in entry["changed"]
        ):
            raise AssertionError(f"non-atomic mv commit: {entry}")
    # replay injection: a redelivered batch moves neither table
    done = committed_batch_ids(cat, spark, "events_raw", "mv")
    head_before = cat.head()
    sink(events.limit(50), max(done))
    if cat.head() != head_before:
        raise AssertionError("replayed micro-batch minted a commit")
    _n_src = _pq_rows(sf_dir, "events")
    if _cat_rows(cat, spark, "events_raw") != (
        _n_src if _n_src is not None else events.count()
    ):
        raise AssertionError("raw sink diverged from the source")
    return cat.read(spark, "events_mv")


_X_STREAM_INGEST_DEDUP_SQL = f"""
WITH fps AS (
  SELECT md5({_NORM_SQL}) AS fp FROM documents GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(('0x' || substring(fp, 1, 8)) AS BIGINT)) AS BIGINT)
         AS fp_sum
FROM fps
"""


@_q("x_corpus_stream_ingest_dedup", _X_STREAM_INGEST_DEDUP_SQL)
def x_corpus_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus intake with CROSS-BATCH exact dedup, exactly
    once (streaming/exactly_once.py exactly_once_dedup_sink, r17): the
    documents table is DOUBLED (every doc delivered twice — the
    at-least-once feed) and split across micro-batches; each batch
    dedups within itself, anti-joins the committed fingerprint table,
    and appends survivors + fingerprints + ledger row in ONE manifest.
    The committed corpus is duplicate-free across the entire ingestion
    history regardless of how the duplicates straddle batches. The
    digest (unique-doc count + md5-twin fingerprint checksum) is
    arrival-order-invariant — the fingerprint SET equals the batch
    oracle's distinct normalized-text set no matter which copy of a
    duplicate arrived first — so DuckDB states it from the raw table
    alone. In-code: corpus row count == fingerprint count (the dedup
    invariant) and a replayed batch moves nothing."""
    from ..sources.txn import Catalog
    from ..streaming.exactly_once import (
        committed_batch_ids,
        exactly_once_dedup_sink,
    )

    root = _scratch_dir("spark_graft_ingest_dedup_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    doubled.repartition(4).write.mode("overwrite").parquet(f"{root}/src")
    cat = Catalog(f"{root}/wh")
    sink = exactly_once_dedup_sink(
        cat, "corpus", tx.content_fingerprint(F.col("text")), "doc_id",
        app_id="ingest",
    )
    q = (
        spark.readStream.schema(spark.read.parquet(f"{root}/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/src")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_corpus = _cat_rows(cat, spark, "corpus")
    n_fp = _cat_rows(cat, spark, "corpus__fp")
    if n_corpus != n_fp:
        raise AssertionError("corpus and fingerprint table diverged")
    done = committed_batch_ids(cat, spark, "corpus", "ingest")
    head_before = cat.head()
    sink(docs.limit(20), max(done))  # replay injection
    if cat.head() != head_before:
        raise AssertionError("replayed micro-batch minted a commit")
    return cat.read(spark, "corpus__fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.conv(F.substring("_fp", 1, 8), 16, 10).cast("long")
        ).cast("long").alias("fp_sum"),
    )


# --------------------------------------------------------------------------
# Composed corpus preparation (the end-to-end LLM data-pipeline flow)
# --------------------------------------------------------------------------

_X_CORPUS_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         {_lang_case_expr()} AS lang_pred,
         {_QUALITY_EXPR} AS quality,
         CAST(len({_SQL_TOKENS.format(x='text')}) AS INTEGER) AS n_tokens,
         md5({_NORM_SQL}) AS fp
  FROM documents),
filtered AS (
  SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.3),
survivors AS (
  SELECT fp, MIN(doc_id) AS doc_id FROM filtered GROUP BY fp)
SELECT f.doc_id, f.n_tokens, f.quality
FROM survivors s JOIN filtered f ON f.doc_id = s.doc_id
"""


@_q("x_corpus_prep", _X_CORPUS_SQL)
def x_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus prep: lang gate + quality gate + exact dedup in one
    declarative plan (single scan + one 16-byte-key shuffle)."""
    from ..operators.corpus import prepare_corpus

    return prepare_corpus(load_table(spark, sf_dir, "documents"))


_X_CORPUS_STATS_SQL = f"""
WITH scored AS (
  SELECT {_lang_case_expr()} AS lang_pred,
         {_QUALITY_EXPR} AS quality,
         CAST(len({_SQL_TOKENS.format(x='text')}) AS INTEGER) AS n_tokens
  FROM documents)
SELECT lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS DOUBLE) AS quality_sum
FROM scored GROUP BY lang_pred
"""


@_q("x_corpus_stats", _X_CORPUS_STATS_SQL)
def x_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus report card: docs / total tokens / summed quality per
    predicted language — the single-scan summary a 100 TB ingest run
    prints. Quality sums via a fixed-scale decimal cast so the aggregate
    is order-insensitive (raw double SUM is not cross-engine stable)."""
    from ..functions.text import lang_id, quality_score, token_count

    d = spread(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return (
        d.select(
            lang_id(t).alias("lang_pred"),
            quality_score(t).alias("quality"),
            token_count(t).alias("n_tokens"),
        )
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("quality").cast("decimal(18,9)"))
            .cast("double")
            .alias("quality_sum"),
        )
    )


_X_PREP_NEARDUP_SQL = (
    "WITH "
    + _JACCARD_CTES_T.format(th=0.95).lstrip()
    + f""",
prep AS (
  SELECT md5({_NORM_SQL}) AS fp, MIN(doc_id) AS doc_id
  FROM documents
  WHERE {_lang_case_expr()} = 'en' AND {_QUALITY_EXPR} >= 0.3
  GROUP BY 1),
p95 AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE doc_a IN (SELECT doc_id FROM prep)
    AND doc_b IN (SELECT doc_id FROM prep))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM prep) AS n_prepared,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p95) AS n_true95,
       TRUE AS no_dup_survivors_ok,
       TRUE AS kept_subset_ok"""
)


@_q("x_corpus_prep_neardup", _X_PREP_NEARDUP_SQL)
def x_corpus_prep_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep plus MinHash near-dup removal (est Jaccard >= 0.8,
    lower doc id survives), under its r18 quantitative contract gate.

    The production pipeline (prepare_corpus_neardup) runs unchanged;
    the gate audits its OUTPUT against exactly-statable ground truth:
    n_prepared (the pre-neardup prepared-corpus size — pure SQL, the
    oracle recomputes it), n_true95 (exact >= 0.95-Jaccard pairs among
    prepared docs, from the staged scored table), no_dup_survivors_ok
    (no >= 0.95 pair has BOTH endpoints surviving: at J >= 0.95 the
    MinHash estimate falls below the 0.8 removal threshold w.p.
    ~2e-8/pair and LSH misses w.p. ~2e-12, both fixed-seed
    deterministic, so the oracle states TRUE), and kept_subset_ok
    (near-dup removal only ever deletes — the survivor set is a subset
    of the prepared corpus). Upgraded from rows-only in r18."""
    from ..operators.corpus import prepare_corpus, prepare_corpus_neardup

    docs = load_table(spark, sf_dir, "documents")
    kept = prepare_corpus_neardup(docs).select("doc_id")
    prepared = prepare_corpus(docs).select("doc_id")
    p95 = (
        _staged_neardup_scored(spark, sf_dir)
        .filter(F.col("jaccard") >= F.lit(0.95))
        .join(
            F.broadcast(prepared.withColumnRenamed("doc_id", "doc_a")),
            "doc_a",
        )
        .join(
            F.broadcast(prepared.withColumnRenamed("doc_id", "doc_b")),
            "doc_b",
        )
    )
    surviving_pairs = p95.join(
        F.broadcast(kept.withColumnRenamed("doc_id", "doc_a")), "doc_a"
    ).join(F.broadcast(kept.withColumnRenamed("doc_id", "doc_b")), "doc_b")
    escaped = kept.join(prepared, "doc_id", "left_anti")
    return (
        prepared.agg(F.count(F.lit(1)).cast("long").alias("n_prepared"))
        .crossJoin(
            p95.agg(F.count(F.lit(1)).cast("long").alias("n_true95"))
        )
        .crossJoin(
            surviving_pairs.agg(
                (F.count(F.lit(1)) == 0).alias("no_dup_survivors_ok")
            )
        )
        .crossJoin(
            escaped.agg((F.count(F.lit(1)) == 0).alias("kept_subset_ok"))
        )
    )


_X_CHUNK_SQL = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
starts AS (
  SELECT doc_id, w, unnest(range(1, greatest(len(w) - 16 - 1, 0) + 2, 112)) AS s
  FROM w)
SELECT doc_id,
       CAST((s - 1) / 112 AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(w, s, s + 127), ' ') AS chunk_text,
       CAST(len(list_slice(w, s, s + 127)) AS INTEGER) AS n_tokens
FROM starts
"""


@_q("x_text_chunking", _X_CHUNK_SQL)
def x_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 128-token chunks, 16-token overlap
    (stride 112). Pure built-ins — token array once per doc, offsets
    via sequence + posexplode, slice + concat_ws per chunk; the fan-out
    pipelines with the scan (no UDF, no shuffle)."""
    from ..operators.corpus import chunk_documents

    return chunk_documents(
        spread(load_table(spark, sf_dir, "documents")),
        "doc_id", "text", chunk_tokens=128, overlap=16,
    ).select(
        "doc_id", "chunk_idx", "chunk_text",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


_X_QUANT_SQL = """
WITH mm AS (
  SELECT vec_id,
         embedding,
         CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
         CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx
  FROM embeddings),
q AS (
  SELECT vec_id, mn, mx,
         CASE WHEN mx = mn
              THEN list_transform(embedding, v -> 0)
              ELSE list_transform(embedding,
                     v -> CAST(FLOOR(((CAST(v AS DOUBLE) - mn) * 255.0)
                                     / (mx - mn)) AS INTEGER))
         END AS codes
  FROM mm)
SELECT vec_id, mn, mx,
       unnest(range(len(codes))) AS pos,
       unnest(codes) AS code
FROM q
"""


@_q("x_emb_quantize_int8", _X_QUANT_SQL)
def x_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min/max int8-range quantization (the storage-compression
    step before ANN indexing: 64 floats -> 64 bytes + 2 doubles). All
    array built-ins, zero shuffle. floor() quantization, not round():
    floor has no rounding-mode ties, so Spark and DuckDB agree bit-exactly
    on every code (both engines evaluate ((v-mn)*255)/(mx-mn) in IEEE
    double in the same operation order).

    Output is SCALARIZED — one (vec_id, pos, code) row per element
    instead of an array column — because the driver's canonicalizer
    cannot hash array cells (r05 lesson). pos is BIGINT to match
    DuckDB's range()."""
    e = load_table(spark, sf_dir, "embeddings")
    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    withmm = e.select("vec_id", "embedding", mn.alias("mn"), mx.alias("mx"))
    q = F.when(
        F.col("mx") == F.col("mn"),
        F.transform(F.col("embedding"), lambda v: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(
                ((v.cast("double") - F.col("mn")) * F.lit(255.0))
                / (F.col("mx") - F.col("mn"))
            ).cast("int"),
        )
    )
    return withmm.select(
        "vec_id", "mn", "mx", F.posexplode(q).alias("pos", "code")
    ).select("vec_id", "mn", "mx", F.col("pos").cast("long").alias("pos"), "code")


@_q(
    "x_olap_grouping_sets",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag, "
    "CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status, "
    "COUNT(*) AS cnt, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())",
)
def x_olap_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (per-flag, per-status, grand total) with
    per-column GROUPING() flags — the flags disambiguate real NULL
    group values from subtotal rows, stated identically in both
    engines (the combined grouping_id bit order differs between
    engines, so per-column flags are the portable form). The sum is
    exact decimal internally and pinned to DOUBLE at the output
    boundary on both engines: Spark widens SUM(DECIMAL(18,2)) to
    DECIMAL(28,2) while DuckDB widens to DECIMAL(38,2), and the
    driver's canonicalization hashes those unequally even for
    byte-identical values (the r01 f11 / r04 grouping-sets lesson)."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        li=li,
    )


@_q(
    "x_olap_q3_style",
    "SELECT l.l_orderkey, "
    "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) "
    "         * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) "
    "  AS revenue, "
    "CAST(o.o_orderdate AS DATE) AS o_orderdate "
    "FROM customer c "
    "JOIN orders o ON o.o_custkey = c.c_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE c.c_mktsegment = 'BUILDING' "
    "  AND CAST(o.o_orderdate AS DATE) < DATE '1995-03-15' "
    "  AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15' "
    "GROUP BY 1, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10",
)
def x_olap_q3_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: selective dimension
    filter -> broadcast customer keys into orders -> fact join -> exact
    decimal revenue -> deterministic top-10 ((revenue, orderkey) total
    order). The segment filter and both date predicates push to the
    scans; the only fact-sized shuffle is the final group on
    (orderkey, orderdate)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
        .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").cast("date") > F.lit("1995-03-15").cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("double")
    return (
        li.join(o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rev.alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@_q(
    "x_olap_moving_agg",
    "SELECT o_custkey, o_orderkey, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) "
    "  AS moving_sum, "
    "CAST(COUNT(*) OVER w AS BIGINT) AS n_in_frame "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_custkey "
    "             ORDER BY CAST(o_orderdate AS DATE), o_orderkey "
    "             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)",
)
def x_olap_moving_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS-frame window aggregate (3-order moving spend per
    customer): the frame clause the analytic-window query doesn't
    cover. Decimal sum inside the frame, double at the boundary;
    (date, orderkey) ordering makes frames total-ordered and
    engine-identical."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("date"), F.col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("moving_sum"),
        F.count(F.lit(1)).over(w).alias("n_in_frame"),
    )


# --------------------------------------------------------------------------
# Round 4: decontamination, repetition signals, corpus mixing/sharding,
# PQ similarity, OLAP cube/correlated-subquery/range-frame
# --------------------------------------------------------------------------

_GRAMS8_CTE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 7, 0)),
                               i -> array_to_string(t[i:i+7], ' '))) AS g
  FROM toks
),
eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0),
probe AS (SELECT doc_id, g FROM grams WHERE doc_id % 29 <> 0)
"""

_X_DECONTAM_REPORT_SQL = (
    _GRAMS8_CTE
    + """
, hits AS (
  SELECT p.doc_id, COUNT(DISTINCT p.g) AS n_contam
  FROM probe p JOIN eval_grams e USING (g) GROUP BY p.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_contam, 0) AS BIGINT) AS n_contam,
       coalesce(h.n_contam, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 29 <> 0
"""
)


@_q("x_decontam_report", _X_DECONTAM_REPORT_SQL)
def x_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit: docs sharing any 8-token n-gram
    with the pseudo-eval set (doc_id % 29 == 0). Corpus grams are
    builtin higher-order expressions exploded map-side into a BROADCAST
    join against the benchmark-sized eval gram set — one corpus scan,
    zero corpus shuffle (operators/decontam.py)."""
    from ..operators.decontam import contamination_report

    d = spread(load_table(spark, sf_dir, "documents"))
    return contamination_report(
        d.filter(F.col("doc_id") % 29 != 0),
        d.filter(F.col("doc_id") % 29 == 0),
        n=8,
    )


_X_DECONTAM_FILTER_SQL = (
    _GRAMS8_CTE
    + """
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE d.doc_id % 29 <> 0
  AND NOT EXISTS (
    SELECT 1 FROM probe p JOIN eval_grams e USING (g) WHERE p.doc_id = d.doc_id)
"""
)


@_q("x_decontam_filter", _X_DECONTAM_FILTER_SQL)
def x_decontam_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production decontamination path: broadcast anti-join drops
    contaminated docs on first gram hit (no per-doc aggregation)."""
    from ..operators.decontam import decontaminate

    d = spread(load_table(spark, sf_dir, "documents"))
    return decontaminate(
        d.filter(F.col("doc_id") % 29 != 0),
        d.filter(F.col("doc_id") % 29 == 0),
        n=8,
    ).select("doc_id", "source", "n_chars")


_X_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM toks
),
counts AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY doc_id, g),
agg AS (SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM counts GROUP BY doc_id)
SELECT t.doc_id,
       1.0 - len(list_distinct(t.t)) / CAST(greatest(len(t.t), 1) AS DOUBLE)
         AS dup_token_ratio,
       coalesce(a.mx / CAST(a.tot AS DOUBLE), 0.0) AS top_bigram_ratio
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


@_q("x_text_repetition", _X_REPETITION_SQL)
def x_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token fraction (pure
    codegen array expression) + most-frequent-bigram share (map-side
    explode -> groupBy on (doc_id, gram) -> per-doc max/sum: both
    aggregations partial map-side, keys co-partitioned on doc_id)."""
    from ..operators.decontam import token_ngrams

    d = spread(load_table(spark, sf_dir, "documents"))
    big = d.select(
        "doc_id", F.explode(token_ngrams(F.col("text"), 2)).alias("g")
    )
    agg = (
        big.groupBy("doc_id", "g")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
    )
    return (
        d.select("doc_id", tx.dup_token_ratio(F.col("text")).alias("dup_token_ratio"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "dup_token_ratio",
            F.coalesce(
                F.col("mx") / F.col("tot").cast("double"), F.lit(0.0)
            ).alias("top_bigram_ratio"),
        )
    )


@_q(
    "x_sample_domain_mix",
    "SELECT doc_id, source FROM documents "
    "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < "
    "CASE source WHEN 'src2' THEN '4000' WHEN 'src1' THEN '8000' "
    "WHEN 'src0' THEN 'g' ELSE '1999' END",
)
def x_sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: per-source keep rates (src0 100%,
    src1 50%, src2 25%, everything else 10%) as ONE codegen'd CASE
    predicate — no join, pushes to the scan, reproducible and monotone
    under corpus growth (operators/sampling.py resample_mix)."""
    from ..operators.sampling import resample_mix

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return resample_mix(
        d, "source", "doc_id",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    )


_X_BUDGET_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(len({_SQL_TOKENS.format(x='text')}) AS INTEGER) AS n_tokens,
         {_QUALITY_EXPR} AS quality
  FROM documents),
cum AS (
  SELECT doc_id, source, n_tokens, quality,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY quality DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM scored)
SELECT doc_id, source, n_tokens, quality FROM cum WHERE cb < 500
"""


@_q("x_sample_token_budget", _X_BUDGET_SQL)
def x_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted corpus selection: per source domain, take documents
    best-quality-first until a 500-token budget fills (binding at every test SF) (greedy, may overshoot
    by one doc — operators/sampling.py token_budget_fill). This is the
    mixture knob stated in TOKENS — the unit training recipes actually
    budget — rather than the document-count or keep-rate knobs of
    stratified_fixed_n / resample_mix. quality DESC + doc_id makes the
    order total, so both engines walk identical prefixes; quality itself
    is the hash-exact cross-engine expression of x_text_quality."""
    from ..operators.sampling import token_budget_fill

    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.quality_score(F.col("text")).alias("quality"),
    )
    return token_budget_fill(
        d, "source", "n_tokens", budget=500,
        order_cols=[F.col("quality").desc(), F.col("doc_id")],
    )


@_q(
    "x_sample_shard_positions",
    "SELECT doc_id, shard, CAST(ROW_NUMBER() OVER ("
    "  PARTITION BY shard ORDER BY h, doc_id) AS INTEGER) AS pos "
    "FROM (SELECT doc_id, md5('r4|' || CAST(doc_id AS VARCHAR)) AS h, "
    "  CAST(CAST(('0x' || substring(md5('r4|' || CAST(doc_id AS VARCHAR)), 1, 4)) "
    "       AS BIGINT) % 8 AS INTEGER) AS shard FROM documents)",
)
def x_sample_shard_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle, sharded: seeded-hash
    shard assignment + within-shard hash-order positions. No global
    window — each shard numbers independently, so parallelism scales
    with shard count (operators/sampling.py shard_positions)."""
    from ..operators.sampling import shard_positions

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return shard_positions(d, "doc_id", n_shards=8, seed="r4")


_X_QUALITY_NTILE_SQL = f"""
SELECT doc_id, lang, CAST(NTILE(10) OVER (
  PARTITION BY lang ORDER BY {_QUALITY_EXPR}, doc_id) AS INTEGER) AS decile
FROM documents
"""


@_q("x_text_quality_ntile", _X_QUALITY_NTILE_SQL)
def x_text_quality_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: quality-score deciles per language (ntile
    window; ties broken by doc_id so bucket edges are deterministic).
    Per-language windows shuffle once on lang; at 100 TB replace exact
    ntile with approx-percentile cut points computed in one pass and
    joined back as a broadcast CASE."""
    d = spread(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("lang").orderBy(
        tx.quality_score(F.col("text")), F.col("doc_id")
    )
    return d.select(
        "doc_id", "lang", F.ntile(10).over(w).alias("decile")
    )


@_q(
    "x_olap_cube",
    "SELECT o_orderstatus, o_orderpriority, "
    "CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status, "
    "CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority, "
    "COUNT(*) AS cnt, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price "
    "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)",
)
def x_olap_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE (all 4 grouping sets over status x priority) with
    per-column GROUPING() flags — same portable-flag convention as
    x_olap_grouping_sets. Cube expansion happens map-side before the
    single partial-agg shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM {o}
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        o=o,
    )


_X_CORR_SCALAR_SQL = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
FROM orders o
WHERE CAST(o_totalprice AS DOUBLE) *
      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      > 1.5 * CAST((SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                    FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS DOUBLE)
"""


@_q("x_olap_correlated_scalar", _X_CORR_SCALAR_SQL)
def x_olap_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (orders priced >1.5x their
    customer's average): Catalyst decorrelates both subqueries into
    aggregate-then-join — no per-row re-execution, one shuffle on the
    correlation key. The avg is compared via exact decimal sum x count
    to dodge double-summation order nondeterminism."""
    o = load_table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
        FROM {o} o
        WHERE CAST(o_totalprice AS DOUBLE) *
              (SELECT COUNT(*) FROM {o2} o2 WHERE o2.o_custkey = o.o_custkey)
              > 1.5 * CAST((SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
                            FROM {o2} o2 WHERE o2.o_custkey = o.o_custkey) AS DOUBLE)
        """,
        o=o,
        o2=o,
    )


_X_RANGE_FRAME_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS range_sum,
       COUNT(*) OVER w AS n_in_range
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
"""


@_q("x_olap_range_frame", _X_RANGE_FRAME_SQL)
def x_olap_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE window frame: per-user 10-minute trailing sum.
    The frame bound is on epoch MICROS (integer) so both engines cut
    the frame at identical points regardless of timestamp precision;
    RANGE includes ties (peer rows) identically. Decimal sum inside
    the frame, double at the boundary."""
    from ..sources.readers import load_events

    e = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("range_sum"),
        F.count(F.lit(1)).over(w).alias("n_in_range"),
    )


def _sql_pq_sub_d2(vexpr: str, bexpr: str, i_expr: str, sub: int = 8) -> str:
    """Squared L2 over subspace ``i_expr`` as DuckDB SQL — the exact
    mirror of similarity._sq_l2_sql's left fold: per element,
    (CAST(v AS DOUBLE) - b)^2 summed in index order (list_sum over a
    list_transform is sequential, the same precedent _sql_cos rides)."""
    d = f"(CAST({vexpr}[{i_expr}*{sub} + __t] AS DOUBLE) - {bexpr}[{i_expr}*{sub} + __t])"
    return f"list_sum(list_transform(range(1, {sub + 1}), __t -> {d} * {d}))"


def _sql_pq_common(n_codes: int = 16, m: int = 8, dim: int = 64) -> str:
    """Shared CTE prefix for the PQ twins: deterministic codebooks
    (sub-vectors of the first n_codes corpus vectors by id — exactly
    pq_init_first_n), per-(vector, subspace) nearest code with ties to
    the lowest code id (mirrors _argmin_code_sql's struct sort), codes
    collected to a per-vector list."""
    sub = dim // m
    return f"""
subs AS (SELECT unnest(range(0, {m})) AS i),
books AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code_id,
         list_transform(range(1, {dim + 1}),
                        __t -> CAST(embedding[__t] AS DOUBLE)) AS bvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {n_codes}) _f),
sub_d AS (
  SELECT v.vec_id, s.i, b.code_id,
         {_sql_pq_sub_d2('v.embedding', 'b.bvec', 's.i', sub)} AS d2
  FROM embeddings v CROSS JOIN books b CROSS JOIN subs s),
codes AS (
  SELECT vec_id, list(code_id ORDER BY i) AS cl FROM (
    SELECT vec_id, i, code_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, i
                              ORDER BY d2, code_id) AS rk
    FROM sub_d) _t WHERE rk = 1 GROUP BY vec_id),
bl AS (SELECT list(bvec ORDER BY code_id) AS blist FROM books)"""


def _sql_pq_adc(qexpr: str, cl_expr: str, blist_expr: str, m: int = 8, sub: int = 8) -> str:
    """ADC distance as DuckDB SQL: sum over subspaces (index order —
    Spark's Python sum() left fold) of the squared L2 between the
    query sub-vector and the codeword the candidate's code points at
    (0-based code -> 1-based list index)."""
    d = (
        f"(CAST({qexpr}[__i*{sub} + __t] AS DOUBLE)"
        f" - {blist_expr}[{cl_expr}[__i + 1] + 1][__i*{sub} + __t])"
    )
    return (
        f"list_sum(list_transform(range(0, {m}), __i -> "
        f"list_sum(list_transform(range(1, {sub + 1}), __t -> {d} * {d}))))"
    )


_X_PQ_TOPK_SQL = f"""
WITH {_sql_pq_common()},
cand AS (
  SELECT q.vec_id AS query_id, q.embedding AS qvec,
         c.vec_id AS neighbor_id, ce.embedding AS cvec,
         {_sql_pq_adc('q.embedding', 'c.cl', 'bl.blist')} AS adc
  FROM embeddings q
  CROSS JOIN codes c
  JOIN embeddings ce ON ce.vec_id = c.vec_id
  CROSS JOIN bl
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
top_cand AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc, neighbor_id) AS ar
    FROM cand) _t WHERE ar <= 40),
scored AS (
  SELECT query_id, neighbor_id, {_sql_cos('qvec', 'cvec')} AS cos
  FROM top_cand)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) _t
WHERE rank <= 10
"""


@_q("x_sim_pq_topk", _X_PQ_TOPK_SQL)
def x_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: corpus encoded to m=8 small codes by a
    pure higher-order-builtin argmin (map-only, no UDF), queries score
    candidates via ADC lookup tables, exact-cosine re-rank of the top
    k*refine. ORACLE-CHECKED since r13: the registered query uses the
    deterministic init-only codebooks (pq_init_first_n — sub-vectors of
    the first 16 corpus vectors by id), so encode, ADC and re-rank all
    restate in SQL (_X_PQ_TOPK_SQL) and hash-match bit-exact. The
    Lloyd-trained tier (pq_fit, float iteration — non-statable) stays
    the production path, covered by the recall assertions in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_init_first_n(emb, m=8, n_codes=16)
    return similarity.pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 10), books, k=10, refine=4
    )


_X_STREAM_STREAM_SQL = """
SELECT l.user_id, l.event_id AS left_id, r.event_id AS right_id,
       CAST(l.ts AS TIMESTAMP) AS left_ts, CAST(r.ts AS TIMESTAMP) AS right_ts
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'error'
 AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP)
 AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
"""


@_q("x_stream_stream_join", _X_STREAM_STREAM_SQL)
def x_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click -> error within 30 min per
    user), drained to batch. Inner interval joins are batch-equivalent
    once the source exhausts, so this streaming query has a REAL DuckDB
    oracle (the identical self-join), not just a rows-only check. Both
    sides watermarked + time-bounded -> join state is purged, bounded
    by rate x lag (streaming/events.py)."""
    from ..streaming.events import (
        drain_stream,
        read_events_stream,
        stream_stream_interval_join,
    )

    ev = read_events_stream(spark, sf_dir)
    joined = stream_stream_interval_join(ev, ev, max_lag_minutes=30)
    return drain_stream(joined, "x_stream_stream_join", "append")


_X_STREAM_STREAM_LEFT_SQL = """
WITH clicks AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'),
errors AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'error'),
wm AS (
  SELECT LEAST(
    (SELECT CAST(FLOOR(epoch_us(MAX(ts)) / 1000) AS BIGINT) FROM clicks),
    (SELECT CAST(FLOOR(epoch_us(MAX(ts)) / 1000) AS BIGINT) FROM errors))
    - 3600000 AS w_ms)
SELECT l.user_id, l.event_id AS left_id, r.event_id AS right_id,
       l.ts AS left_ts, r.ts AS right_ts
FROM clicks l JOIN errors r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
UNION ALL
SELECT l.user_id, l.event_id AS left_id, CAST(NULL AS BIGINT) AS right_id,
       l.ts AS left_ts, CAST(NULL AS TIMESTAMP) AS right_ts
FROM clicks l, wm
WHERE NOT EXISTS (
        SELECT 1 FROM errors r
        WHERE r.user_id = l.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE)
  AND CAST(FLOOR(epoch_us(l.ts) / 1000) AS BIGINT) + 1800000 < wm.w_ms
"""


@_q("x_stream_stream_left_join", _X_STREAM_STREAM_LEFT_SQL)
def x_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click keeps its
    within-30-min errors; clicks with none emit null-extended — but
    only once their join state EVICTS, i.e. the global watermark
    (min of both sides' max event time - 60 min, in Spark's millisecond
    watermark arithmetic) passes the click's last possible match time
    (click_ts + 30 min). Clicks the final watermark never passes stay
    pending — correct unbounded-stream semantics. Deterministic on the
    drained fixture, so the oracle states BOTH parts: the inner match
    set, plus the matchless clicks old enough to have evicted."""
    from ..streaming.events import (
        drain_stream,
        read_events_stream,
        stream_stream_interval_join,
    )

    ev = read_events_stream(spark, sf_dir)
    joined = stream_stream_interval_join(
        ev, ev, max_lag_minutes=30, how="leftOuter"
    )
    return drain_stream(joined, "x_stream_stream_left_join", "append")


_X_Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                CAST(1.0 - l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY n_name
"""


@_q("x_olap_q5_style", _X_Q5_SQL)
def x_olap_q5_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table join (local supplier volume): the two
    fact-sized tables (lineitem, orders) shuffle-join on orderkey once;
    supplier/nation/region are explicit broadcasts and customer joins on
    the already-shuffled custkey side. The region filter prunes the
    broadcast before it ships. Revenue = exact decimal product/sum,
    double only at the output boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(9,4)")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


_X_Q14_SQL = """
SELECT CAST(date_trunc('month', CAST(l_shipdate AS TIMESTAMP)) AS DATE)
         AS month,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                CAST(1.0 - l_discount AS DECIMAL(9,4))) AS DOUBLE)
         AS revenue,
       CAST(SUM(CASE WHEN p_type = 'ECONOMY'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
                          CAST(1.0 - l_discount AS DECIMAL(9,4)) END)
            AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    CAST(1.0 - l_discount AS DECIMAL(9,4))) AS DOUBLE)
         * 100.0 AS promo_pct
FROM lineitem, part
WHERE l_partkey = p_partkey
GROUP BY 1
"""


@_q("x_olap_q14_style", _X_Q14_SQL)
def x_olap_q14_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion-effect ratio per ship month: the
    share of revenue from one part class ('ECONOMY' stands in for
    PROMO%). Lineitem ⋈ broadcast(part) — the fact side never shuffles
    for the join, only for the month groupBy. Both sums are exact
    decimals; the single double division (and ×100) happens once per
    output row at the boundary, in the same (a/b)*100 association in
    both engines. Conditional numerator via CASE-with-no-ELSE (NULLs
    skipped by SUM identically in both engines)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(9,4)")
    promo_rev = F.when(F.col("p_type") == "ECONOMY", rev)
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.date_trunc("month", F.col("l_shipdate"))
            .cast("date")
            .alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
            (
                F.sum(promo_rev).cast("double")
                / F.sum(rev).cast("double")
                * F.lit(100.0)
            ).alias("promo_pct"),
        )
    )


_X_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                CAST(1.0 - l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND c_nationkey = n_nationkey AND l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@_q("x_olap_q10_style", _X_Q10_SQL)
def x_olap_q10_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item reporting: which customers
    returned the most revenue. The returnflag filter pushes into the
    lineitem scan (the fact table shrinks before any join), lineitem ⋈
    orders shuffles on orderkey once, customer joins on custkey, nation
    broadcasts. Exact decimal revenue, double only at the boundary;
    top-20 under the (revenue DESC, custkey) total order so LIMIT is
    deterministic in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(9,4)")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_X_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_totalprice AS DOUBLE) AS totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
"""


@_q("x_olap_q18_style", _X_Q18_SQL)
def x_olap_q18_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-order query: semi-join against an
    aggregated subquery (orders whose lineitems sum past a quantity
    threshold), then re-join and re-aggregate for the report. The
    HAVING subquery and the outer agg share the l_orderkey
    partitioning, so the second aggregation re-uses the first
    shuffle's layout under AQE."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_s"))
        .filter(F.col("_s") > 300)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("totalprice"),
            F.col("_sq").cast("double").alias("sum_qty"),
        )
    )


_X_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
       CAST(l_quantity AS DOUBLE) AS val FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', CAST(l_extendedprice AS DOUBLE)
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', CAST(l_tax AS DOUBLE) FROM lineitem
"""


@_q("x_olap_unpivot", _X_UNPIVOT_SQL)
def x_olap_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot via the stack() generator — one scan emits
    all three metric rows map-side (the UNION-ALL oracle formulation
    would scan three times; stack is the single-scan physical form)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', CAST(l_quantity AS DOUBLE), "
            "'extendedprice', CAST(l_extendedprice AS DOUBLE), "
            "'tax', CAST(l_tax AS DOUBLE)) AS (metric, val)"
        ),
    )


_X_IVFPQ_TOPK_SQL = f"""
WITH {_sql_pq_common()},
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INTEGER) AS cell,
         embedding AS cent
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8) _f),
scored_all AS (
  SELECT v.vec_id, v.embedding, c.cell,
         {_sql_cos('v.embedding', 'c.cent')} AS cs
  FROM embeddings v CROSS JOIN cents c),
corpus_cells AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, cell) AS rk
    FROM scored_all) _t WHERE rk = 1),
query_cells AS (
  SELECT vec_id AS query_id, embedding AS qvec, cell FROM (
    SELECT vec_id, embedding, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, cell) AS rk
    FROM scored_all WHERE vec_id < 10) _t WHERE rk <= 4),
cand AS (
  SELECT q.query_id, q.qvec, cc.vec_id AS neighbor_id, ce.embedding AS cvec,
         {_sql_pq_adc('q.qvec', 'c2.cl', 'bl.blist')} AS adc
  FROM query_cells q
  JOIN corpus_cells cc USING (cell)
  JOIN codes c2 ON c2.vec_id = cc.vec_id
  JOIN embeddings ce ON ce.vec_id = cc.vec_id
  CROSS JOIN bl
  WHERE q.query_id <> cc.vec_id),
top_cand AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adc, neighbor_id) AS ar
    FROM cand) _t WHERE ar <= 40),
scored AS (
  SELECT query_id, neighbor_id, {_sql_cos('qvec', 'cvec')} AS cos
  FROM top_cand)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT query_id, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) _t
WHERE rank <= 10
"""


@_q("x_sim_ivfpq_topk", _X_IVFPQ_TOPK_SQL)
def x_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (FAISS IVFADC layout as DataFrame ops): cells bound
    WHICH corpus fraction a query touches, PQ codes bound WHAT is read
    per candidate; exact cosine re-ranks the ADC survivors.
    ORACLE-CHECKED since r13: the registered query uses deterministic
    init-only components on both axes — coarse centroids = first 8
    corpus vectors by id (the x_sim_ivf_topk recipe), PQ codebooks =
    pq_init_first_n — so cell assignment, encode, ADC and re-rank all
    restate in SQL (_X_IVFPQ_TOPK_SQL) and hash-match bit-exact. The
    k-means/Lloyd-trained tiers (kmeans_fit_sample, pq_fit — float
    iteration, non-statable) remain the production path, covered by
    the recall assertions in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_init_first_n(emb, m=8, n_codes=16)
    cent_rows = emb.orderBy("vec_id").limit(8).select("embedding").collect()
    centroids = [
        (i + 1, [float(x) for x in r[0]]) for i, r in enumerate(cent_rows)
    ]
    return similarity.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), books,
        k=10, n_cells=8, n_probe=4, refine=4, centroids=centroids,
    )


_X_INCR_AGG_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
         AS avg_price
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


@_q("x_ingest_incremental_agg", _X_INCR_AGG_SQL)
def x_ingest_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the orders fact arrives as two
    batches; each refresh merges the batch's PARTIAL aggregates into the
    stored rollup through an atomic catalog commit (operators/incremental.py)
    — history is never re-scanned. The oracle is the equivalence proof:
    merge(partial(b1), partial(b2)) == full GROUP BY over everything."""
    from ..operators.incremental import refresh_rollup
    from ..sources.txn import Catalog

    # per-invocation scratch, atexit-reclaimed (see _scratch_dir)
    cat = Catalog(_scratch_dir("spark_graft_rollup_"))
    o = load_table(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]
    sums = {"o_totalprice": "sum_price"}
    refresh_rollup(
        spark, cat, "rollup", o.filter(F.col("o_orderkey") % 2 == 0), keys, sums
    )
    final = refresh_rollup(
        spark, cat, "rollup", o.filter(F.col("o_orderkey") % 2 == 1), keys, sums
    )
    return final.select(
        *keys,
        "n_rows",
        F.col("sum_price").cast("double").alias("sum_price"),
        (F.col("sum_price").cast("double") / F.col("n_rows")).alias("avg_price"),
    )


_X_CORPUS_BUILD_SQL = (
    _GRAMS8_CTE
    + f"""
, clean AS (
  SELECT d.* FROM documents d
  WHERE d.doc_id % 29 <> 0
    AND NOT EXISTS (
      SELECT 1 FROM probe p JOIN eval_grams e USING (g)
      WHERE p.doc_id = d.doc_id)),
scored AS (
  SELECT doc_id, source,
         {_lang_case_expr()} AS lang_pred,
         {_QUALITY_EXPR} AS quality,
         md5({_NORM_SQL}) AS fp
  FROM clean),
gated AS (
  SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.3),
survivors AS (SELECT fp, MIN(doc_id) AS doc_id FROM gated GROUP BY fp),
kept AS (
  SELECT g.doc_id, g.lang_pred, g.source
  FROM survivors s JOIN gated g ON g.doc_id = s.doc_id),
mixed AS (
  SELECT * FROM kept
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        CASE source WHEN 'src2' THEN '4000' WHEN 'src1' THEN '8000'
        WHEN 'src0' THEN 'g' ELSE '1999' END)
SELECT doc_id, lang_pred, source, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS INTEGER) AS pos
FROM (SELECT *, md5('r4|' || CAST(doc_id AS VARCHAR)) AS h,
        CAST(CAST(('0x' || substring(md5('r4|' || CAST(doc_id AS VARCHAR)), 1, 4))
             AS BIGINT) % 8 AS INTEGER) AS shard
      FROM mixed)
"""
)


@_q("x_corpus_build_full", _X_CORPUS_BUILD_SQL)
def x_corpus_build_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship training-data composition, oracle-checked end to
    end: decontaminate -> lang gate -> quality gate -> exact dedup ->
    domain mixture -> sharded deterministic training order
    (operators/corpus.py build_corpus). Every stage is itself
    oracle-checked standalone; this proves the COMPOSITION, including
    stage ordering, matches the declarative SQL spec."""
    from ..operators.corpus import build_corpus

    d = spread(load_table(spark, sf_dir, "documents"))
    return build_corpus(
        d.filter(F.col("doc_id") % 29 != 0),
        d.filter(F.col("doc_id") % 29 == 0),
        mix_rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
        n_shards=8,
        seed="r4",
    )


_X_WINDOW_NAV_SQL = """
SELECT o_orderkey, o_orderpriority,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(first_value(o_orderkey) OVER w AS BIGINT) AS cheapest_key,
       CAST(nth_value(o_orderkey, 2) OVER
            (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS BIGINT) AS second_cheapest_key
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@_q("x_olap_window_nav", _X_WINDOW_NAV_SQL)
def x_olap_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation/distribution window functions: percent_rank + cume_dist
    (rational-of-counts doubles, engine-identical) and first/nth_value.
    nth_value needs the UNBOUNDED-FOLLOWING frame to see past the
    current row — the default RANGE frame would return NULL for row 1;
    stated identically in both engines. (o_totalprice, o_orderkey)
    ordering makes every rank total and deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(w).cast("bigint").alias("cheapest_key"),
        F.nth_value("o_orderkey", 2).over(w_full).cast("bigint")
        .alias("second_cheapest_key"),
    )


_X_FREQ_ITEMS_SQL = """
WITH n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM events),
counts AS (
  SELECT 'event_type' AS column_name, CAST(event_type AS VARCHAR) AS item,
         CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM events GROUP BY event_type
  UNION ALL
  SELECT 'user_id' AS column_name, CAST(user_id AS VARCHAR) AS item,
         CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM events GROUP BY user_id)
SELECT column_name, item, exact_n, TRUE AS in_sketch
FROM counts, n WHERE exact_n > 0.15 * n.n
"""


@_q("x_olap_freq_items", _X_FREQ_ITEMS_SQL)
def x_olap_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the single-pass frequent-items sketch
    (Karp-Shenker-Papadimitriou): one scan, per-partition candidate
    maps merged associatively — the 100 TB shape for "which values
    exceed f% support" without a full groupBy.

    QUANTITATIVE oracle gate (r18, upgraded from rows-only — VERDICT
    r17 task #5): the sketch's reported SET is partition-order-
    dependent (false positives vary run to run — the old rows-only
    reason), but its GUARANTEE is deterministic: every item with
    exact support > f x N is reported, on every run, whatever the
    merge order (no false negatives). So the output is the truly
    frequent items with their exact counts (SQL-statable) plus an
    ``in_sketch`` boolean per item — TRUE iff the sketch honored its
    contract. The sketch still runs on every invocation; the
    unstable false-positive tail simply stays out of the hashed
    output. Superset property additionally asserted in
    tests/test_plans.py."""
    from ..sources.readers import load_events

    e = load_events(spark, sf_dir)
    sketch = e.select("event_type", "user_id").stat.freqItems(
        ["event_type", "user_id"], support=0.15
    )
    as_rows = F.concat(
        F.transform(
            "event_type_freqItems",
            lambda x: F.struct(
                F.lit("event_type").alias("column_name"),
                x.cast("string").alias("item"),
            ),
        ),
        F.transform(
            "user_id_freqItems",
            lambda x: F.struct(
                F.lit("user_id").alias("column_name"),
                x.cast("string").alias("item"),
            ),
        ),
    )
    reported = sketch.select(F.explode(as_rows).alias("s")).select(
        "s.column_name", "s.item"
    ).withColumn("in_sketch", F.lit(True))
    n_total = e.count()
    exact = (
        e.groupBy(F.col("event_type").cast("string").alias("item"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .select(F.lit("event_type").alias("column_name"), "item", "exact_n")
        .unionByName(
            e.groupBy(F.col("user_id").cast("string").alias("item"))
            .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
            .select(F.lit("user_id").alias("column_name"), "item", "exact_n")
        )
        .filter(F.col("exact_n") > 0.15 * n_total)
    )
    return exact.join(
        F.broadcast(reported), on=["column_name", "item"], how="left"
    ).select(
        "column_name", "item", "exact_n",
        F.coalesce("in_sketch", F.lit(False)).alias("in_sketch"),
    )


_X_TIME_TRAVEL_SQL = """
SELECT 1 AS version, o_orderstatus, COUNT(*) AS n
FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
UNION ALL
SELECT 2 AS version, o_orderstatus, COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
"""


@_q("x_storage_time_travel", _X_TIME_TRAVEL_SQL)
def x_storage_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel over the versioned-commit store: two
    overwrites commit two manifests; read_asof(first) still sees the
    first snapshot after the second commits (the Delta/Iceberg
    `VERSION AS OF` semantics on the catalog core). The oracle
    recomputes both snapshots from the source."""
    from ..sources.txn import Catalog

    # per-invocation scratch, atexit-reclaimed (see _scratch_dir)
    cat = Catalog(_scratch_dir("spark_graft_ttravel_"))
    o = load_table(spark, sf_dir, "orders")
    agg = lambda df: df.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))  # noqa: E731
    with cat.transaction() as t:
        t.overwrite(agg(o.filter(F.col("o_orderkey") % 2 == 0)), "agg")
    first = t.committed_manifest
    with cat.transaction() as t:
        t.overwrite(agg(o), "agg")
    v1 = cat.read_asof(spark, "agg", first).select(
        F.lit(1).alias("version"), "o_orderstatus", "n"
    )
    v2 = cat.read(spark, "agg").select(
        F.lit(2).alias("version"), "o_orderstatus", "n"
    )
    return v1.unionByName(v2)


# --------------------------------------------------------------------------
# SimHash md5 twin (round 7) — hash-verifiable counterpart of
# x_dedup_simhash, exactly as x_dedup_minhash_md5 twins the LSH tier
# --------------------------------------------------------------------------

_X_SIMHASH_MD5_SQL = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
           FROM documents),
posts AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - 3, 0) + 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM w WHERE len(w) >= 3),
hashed AS (
  SELECT doc,
         CAST(('0x' || substring(md5(shingle), 1, 4)) AS INT) AS hx
  FROM posts),
cnts AS (
  SELECT doc, b,
         SUM(CASE WHEN (hx >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(range(0, 16)) AS b) bits
  GROUP BY doc, b),
sigs AS (
  SELECT doc,
         CAST(SUM(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS INT) AS sig
  FROM cnts GROUP BY doc),
bkey AS (
  SELECT doc, sig, band, (sig >> (band * 4)) & 15 AS bv
  FROM sigs, (SELECT unnest(range(0, 4)) AS band) bands)
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM bkey a JOIN bkey b USING (band, bv)
WHERE a.doc < b.doc AND bit_count(xor(a.sig, b.sig)) <= 3
"""


@_q("x_dedup_simhash_md5", _X_SIMHASH_MD5_SQL)
def x_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate pairs with a REAL DuckDB oracle: md5-derived
    16-bit sign-sum signatures, 4-band pigeonhole candidate join
    (complete for hamming <= 3), exact bit_count(xor) distance — every
    step exact integer arithmetic both engines state identically, so
    the candidate SET is hash-verified, not just counted. The
    xxhash64/64-bit production tier (x_dedup_simhash) keeps the same
    plan shape at full width and stays rows-only by nature
    (operators/dedup.py::simhash_md5_pairs)."""
    return dedup.simhash_md5_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


_X_STREAM_STREAM_FULL_SQL = """
WITH clicks AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'),
errors AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'error'),
wm AS (
  SELECT LEAST(
    (SELECT CAST(FLOOR(epoch_us(MAX(ts)) / 1000) AS BIGINT) FROM clicks),
    (SELECT CAST(FLOOR(epoch_us(MAX(ts)) / 1000) AS BIGINT) FROM errors))
    - 3600000 AS w_ms)
SELECT l.user_id, l.event_id AS left_id, r.event_id AS right_id,
       l.ts AS left_ts, r.ts AS right_ts
FROM clicks l JOIN errors r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
UNION ALL
SELECT l.user_id, l.event_id AS left_id, CAST(NULL AS BIGINT) AS right_id,
       l.ts AS left_ts, CAST(NULL AS TIMESTAMP) AS right_ts
FROM clicks l, wm
WHERE NOT EXISTS (
        SELECT 1 FROM errors r
        WHERE r.user_id = l.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE)
  AND CAST(FLOOR(epoch_us(l.ts) / 1000) AS BIGINT) + 1800000 < wm.w_ms
UNION ALL
SELECT r.user_id, CAST(NULL AS BIGINT) AS left_id, r.event_id AS right_id,
       CAST(NULL AS TIMESTAMP) AS left_ts, r.ts AS right_ts
FROM errors r, wm
WHERE NOT EXISTS (
        SELECT 1 FROM clicks l
        WHERE l.user_id = r.user_id
          AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE)
  AND CAST(FLOOR(epoch_us(r.ts) / 1000) AS BIGINT) < wm.w_ms
"""


@_q("x_stream_stream_full_join", _X_STREAM_STREAM_FULL_SQL)
def x_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: the left-outer semantics
    (x_stream_stream_left_join) plus matchless ERRORS null-extended on
    THEIR state eviction — a right row's last possible match has
    left_ts <= right_ts, so it evicts as soon as the global watermark
    passes right_ts itself (no +lag term, unlike the left side whose
    last match sits at left_ts + lag). Deterministic on the drained
    fixture; the oracle states all three parts with the same
    millisecond watermark arithmetic."""
    from ..streaming.events import (
        drain_stream,
        read_events_stream,
        stream_stream_interval_join,
    )

    ev = read_events_stream(spark, sf_dir)
    joined = stream_stream_interval_join(
        ev, ev, max_lag_minutes=30, how="fullOuter"
    )
    return drain_stream(joined, "x_stream_stream_full_join", "append")


# --------------------------------------------------------------------------
# Round-7 additions: delta-join IVM, SCD-2 point-in-time, equi-depth bins
# --------------------------------------------------------------------------

_X_IVM_JOIN_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
"""


@_q("x_ingest_incremental_join", _X_IVM_JOIN_SQL)
def x_ingest_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance (delta-join IVM,
    operators/incremental.py::refresh_join): orders and customer each
    arrive in two batches (split by key parity); each refresh adds only
    ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB and appends to the stored join — history is
    never rejoined. After both refreshes the materialized J must equal
    the one-shot join of everything, which the oracle states. All
    three tables commit per refresh in one multi-table transaction, so
    a reader never sees a batch in A whose contributions are missing
    from J."""
    from ..operators.incremental import refresh_join
    from ..sources.txn import Catalog

    store = Catalog(_scratch_dir("ivm_join_"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), "c_mktsegment"
    )
    o = o.withColumn("_k", F.col("o_custkey"))
    c = c.withColumn("_k", F.col("c_custkey"))
    refresh_join(
        spark,
        store,
        "j",
        o.filter(F.col("o_orderkey") % 2 == 0),
        c.filter(F.col("c_custkey") % 2 == 0),
        "_k",
    )
    final = refresh_join(
        spark,
        store,
        "j",
        o.filter(F.col("o_orderkey") % 2 == 1),
        c.filter(F.col("c_custkey") % 2 == 1),
        "_k",
    )
    return final.select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")


def _x_scd2_asof_sql() -> str:
    from .catalog import _M1_SQL

    return (
        "SELECT * FROM ("
        + _M1_SQL
        + ") WHERE StartDate <= DATE '1995-03-15' "
        + "AND EndDate >= DATE '1995-03-15'"
    )


@_q("x_scd2_point_in_time", _x_scd2_asof_sql())
def x_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) read over the SCD-2 dimension: the rows
    whose [StartDate, EndDate] validity interval covers 1995-03-15 — a
    date BEFORE the second batch, so the result is exactly the initial
    versions (including ones later expired: their EndDate moved to
    1995-05-31, still >= the as-of date; the batch's new versions start
    1995-06-01 and are excluded). This is the time-travel read contract
    SCD-2 exists to serve; on the stored dim it is a pure filter the
    parquet reader can push to StartDate/EndDate column stats."""
    from .catalog import QUERIES as _Q

    d = F.lit("1995-03-15").cast("date")
    dim = _Q["m1_scd2_upsert"](spark, sf_dir)
    return dim.filter((F.col("StartDate") <= d) & (F.col("EndDate") >= d))


_X_EQUIDEPTH_SQL = """
WITH t AS (
  SELECT o_totalprice,
         CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INT)
           AS bucket
  FROM orders)
SELECT bucket, COUNT(*) AS n,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi
FROM t GROUP BY bucket
"""


@_q("x_olap_equidepth_histogram", _X_EQUIDEPTH_SQL)
def x_olap_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (quantile bins) of order totals: NTILE(10)
    under a total order, then per-bucket count/lo/hi — the optimizer-
    statistics twin of x_olap_histogram's equi-WIDTH bins. The global
    NTILE is a single-partition sort at dim scale; at fact scale the
    equi-depth boundaries come from the exact/approx percentile
    queries instead (x_olap_percentiles — same output contract, no
    global sort)."""
    from pyspark.sql import Window as W

    w = W.orderBy("o_totalprice", "o_orderkey")
    t = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", F.ntile(10).over(w).cast("int").alias("bucket")
    )
    return t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )


# --------------------------------------------------------------------------
# Round-8 addition: SCD-2 hash surrogate-key mode, oracle-checked
# --------------------------------------------------------------------------


def _x_scd2_hash_sql() -> str:
    # Same pipeline as m1's oracle with the surrogate column projected
    # away: xxhash64 values cannot be reproduced in DuckDB, but every
    # OTHER cell of the hash-mode run must match the rownum-mode run
    # byte-for-byte, and the key property that matters (uniqueness) is
    # verified Spark-side and exported as a constant-1 KeyOk column the
    # oracle asserts.
    from .catalog import _M1_SQL

    return (
        "SELECT CustomerID, Name, NationKey, AcctBal, MktSegment, "
        "StartDate, EndDate, CAST(1 AS INT) AS KeyOk FROM ("
        + _M1_SQL
        + ")"
    )


@_q("x_scd2_hash_keys", _x_scd2_hash_sql())
def x_scd2_hash_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 upsert with ``key_mode="hash"`` (operators/scd2.py:116-121),
    the 100 TB-safe surrogate assignment: xxhash64(business_key,
    version_date) is fully parallel — no single-partition ROW_NUMBER
    window, no max-key broadcast — at the cost of non-contiguous keys.
    Both the initial load and the second batch run in hash mode. The
    oracle checks every non-key cell against the reference-mode result
    (the two modes must agree on dim contents exactly) plus KeyOk: a
    per-surrogate window count proving the hash keys are unique across
    the whole dim (old versions hash the 1995-01-01 load date, new
    versions 1995-06-01, so re-versioned keys cannot collide)."""
    from ..operators.scd2 import scd2_upsert
    from . import tpch_fixtures as fx

    src = fx.ref_customers(spark, sf_dir)
    cols = list(fx.CUSTOMER_COLS)
    init = src.filter(F.col("CustomerID") % 3 != 0)
    dim0 = scd2_upsert(
        None, init, "CustomerID", cols, "CustomerKey",
        run_date=fx.INITIAL_LOAD_DATE, key_mode="hash",
    )
    batch = src.filter(F.col("CustomerID") % 2 == 0).withColumn(
        "Name", F.concat(F.col("Name"), F.lit(" v2"))
    )
    dim = scd2_upsert(
        dim0, batch, "CustomerID", cols, "CustomerKey",
        run_date=fx.SECOND_BATCH_DATE, mode="reference", key_mode="hash",
    )
    w = Window.partitionBy("CustomerKey")
    return (
        dim.withColumn(
            "KeyOk", (F.count(F.lit(1)).over(w) == 1).cast("int")
        )
        .drop("CustomerKey")
    )


# --------------------------------------------------------------------------
# Round-8 addition: hive-partitioned layout + partition pruning
# --------------------------------------------------------------------------

_X_PART_PRUNE_SQL = """
SELECT l_returnflag, COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE strftime(CAST(l_shipdate AS DATE), '%Y-%m') = '1996-03'
GROUP BY l_returnflag
"""


@_q("x_storage_partition_pruning", _X_PART_PRUNE_SQL)
def x_storage_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: lineitem is
    rewritten ``partitionBy(ship_month)`` (the standard time-partitioned
    fact layout — at 100 TB this is THE organizing decision: every
    downstream query carries a month/day predicate that must prune at
    the DIRECTORY level, before any file or footer is opened), then an
    aggregate with an equality filter on the partition column reads it
    back. Catalyst turns the filter into a PartitionFilters entry —
    zero I/O outside ship_month=1996-03 — which
    tests/test_storage.py::test_partition_pruning_reads_only_matching_dirs
    asserts from the file listing; the oracle states the same aggregate
    over the unpartitioned source."""
    d = _scratch_dir("spark_graft_partprune_") + "/lineitem_parts"
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_month",
        F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM"),
    )
    li.write.partitionBy("ship_month").mode("overwrite").parquet(d)
    back = spark.read.parquet(d).filter(F.col("ship_month") == "1996-03")
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# Round-14 addition: dynamic partition pruning (runtime partition filter)
# --------------------------------------------------------------------------

_X_DPP_SQL = """
WITH mm AS (
  SELECT DISTINCT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ship_month
  FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND strftime(CAST(o_orderdate AS DATE), '%Y-%m')
          BETWEEN '1996-01' AND '1996-03')
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
JOIN mm ON strftime(CAST(l_shipdate AS DATE), '%Y-%m') = mm.ship_month
GROUP BY l_returnflag
"""


# month-partitioned lineitem layout, written once per (process, sf_dir)
# — storage SETUP like the bucketed tables (_BUCKETED_READY), so it is
# deliberately NOT in the per-pass stage-reset registry
_DPP_READY: dict[str, str] = {}


@_q("x_storage_dynamic_partition_pruning", _X_DPP_SQL)
def x_storage_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition pruning: the fact is partitioned by
    ship_month, and the months worth scanning are only known at RUN
    time — they come off a selective filter on another table (urgent
    orders in 1996-Q1), not a literal in the query. Catalyst inserts a
    dynamicpruningexpression subquery into the scan's
    PartitionFilters: the dim side's broadcast result prunes fact
    partitions BEFORE any pruned file is opened
    (tests/test_storage.py asserts the expression in the executed
    plan). This is the other half of the partition-layout story next
    to x_storage_partition_pruning's static literal — at 100 TB most
    real pruning predicates arrive through joins (date dims, tenant
    allowlists), and without DPP the partitioned layout does nothing
    for them. The oracle states the same join statically.

    The partitioned layout is WRITE-ONCE per process (r15, the
    _BUCKETED_READY contract next door): partitioning is storage
    setup you pay at load time, and what this query demonstrates is
    the runtime-pruned READ — re-partitioning the fact per invocation
    billed ~3 s of layout cost to every bench pass."""
    d = _DPP_READY.get(sf_dir)
    if d is None:
        d = _scratch_dir("spark_graft_dpp_") + "/lineitem_parts"
        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "ship_month",
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM"),
        )
        li.write.partitionBy("ship_month").mode("overwrite").parquet(d)
        _DPP_READY[sf_dir] = d
    fact = spark.read.parquet(d)
    months = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
            .alias("ship_month")
        )
        .filter(F.col("ship_month").between("1996-01", "1996-03"))
        .distinct()
    )
    return (
        fact.join(months, "ship_month")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# Round-14 addition: bucketed co-located join (zero-exchange SMJ)
# --------------------------------------------------------------------------

_X_BUCKETED_JOIN_SQL = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

# bucketed catalog tables persist across invocations within a process
# (the warehouse is per-process scratch, session.py::_warehouse_dir) —
# write once, every later invocation joins exchange-free
_BUCKETED_READY: set[str] = set()


@_q("x_storage_bucketed_join", _X_BUCKETED_JOIN_SQL)
def x_storage_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-LOCATED bucketed join: orders and customer are persisted as
    catalog tables bucketed 8 ways on the join key
    (sources/readers.py::write_bucketed), so the sort-merge join reads
    both sides already hash-partitioned AND sorted — Catalyst drops
    BOTH shuffle Exchanges and both Sorts (asserted from the executed
    plan in tests/test_bucketing.py). At 100 TB this is the
    recurring-join contract: pay one bucketed write, then every
    fact-dim or fact-fact join on that key is a zero-exchange merge —
    the storage-layout counterpart of the broadcast hint (which
    handles only small dims). The merge hint pins SMJ so the
    co-location (not a broadcast) is what the oracle-checked result
    flows through; the write is skipped when this process already
    bucketed this sf_dir (the write-once contract it demonstrates)."""
    from ..sources.readers import write_bucketed

    tag = sf_dir.replace("/", "_").replace(".", "_")
    to, tc = f"bj_orders_{tag}", f"bj_customer_{tag}"
    if sf_dir not in _BUCKETED_READY:
        write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey", "o_totalprice"
            ),
            to, "o_custkey", n_buckets=8, sort_col="o_custkey",
        )
        write_bucketed(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            tc, "c_custkey", n_buckets=8, sort_col="c_custkey",
        )
        _BUCKETED_READY.add(sf_dir)
    orders = spark.table(to)
    customer = spark.table(tc)
    joined = orders.hint("merge").join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


# --------------------------------------------------------------------------
# Round-14 addition: deterministic mergeable grid-quantile sketch
# --------------------------------------------------------------------------

_X_GRIDQ_SQL = """
WITH binned AS (
  SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(20,0))
              AS BIGINT) // 10000 AS bin
  FROM orders),
partials AS (
  SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY bin),
tot AS (SELECT SUM(cnt) AS n FROM partials),
cum AS (
  SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM partials)
SELECT q.q AS quantile,
       CAST(MIN(c.bin) AS BIGINT) AS bin,
       CAST((MIN(c.bin) + 1) * 10000 AS BIGINT) AS upper_cents
FROM (SELECT unnest([50, 90, 95, 99]) AS q) q
JOIN tot ON TRUE
JOIN cum c ON c.cum * 100 >= q.q * tot.n
GROUP BY q.q
"""


@_q("x_olap_grid_quantile_sketch", _X_GRIDQ_SQL)
def x_olap_grid_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketch with DETERMINISTIC semantics: order
    totals bin to a fixed $100 grid (integer cents div 10^4), per-bin
    counts are the re-aggregatable partial state (sums — merge across
    partitions/days/tables by addition, the property t-digest/KLL give
    up determinism for), and quantile q reads off the first bin whose
    cumulative count covers q% — every step exact integer arithmetic,
    so unlike approx_percentile (x_olap_approx_percentiles, an
    engine-specific t-digest, rows-only forever) this sketch is
    value-hash-checked against the oracle. Error is bounded by the
    grid width (here <= $100), the explicit accuracy/state trade every
    production histogram-quantile system (Prometheus, HDR-histogram)
    makes. Scale shape: one groupBy(bin) partial agg (map-side
    combined), a bin-count-sized cumulative window, and a 4-row
    quantile probe — the corpus never sorts."""
    # exact integer floor-div: cents are nonnegative, so div == floor
    binned = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
            "AS DECIMAL(20,0)) AS BIGINT) div 10000"
        ).alias("bin")
    )
    partials = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = partials.withColumn("cum", F.sum("cnt").over(w))
    tot = partials.agg(F.sum("cnt").alias("n"))
    qs = spark.createDataFrame([(50,), (90,), (95,), (99,)], "q int")
    return (
        F.broadcast(qs)
        .crossJoin(F.broadcast(tot))
        .join(cum, F.col("cum") * 100 >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
        .select(
            F.col("q").alias("quantile"),
            F.col("bin").cast("long").alias("bin"),
            ((F.col("bin") + 1) * 10000).cast("long").alias("upper_cents"),
        )
    )


# --------------------------------------------------------------------------
# Round-8 addition: blocked fuzzy entity resolution
# --------------------------------------------------------------------------

_X_FUZZY_SQL = """
WITH names AS (
  SELECT p_name, string_split(p_name, ' ')[1] AS blk,
         COUNT(*) AS n FROM part GROUP BY 1, 2)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       a.n AS n_rows_a, b.n AS n_rows_b
FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
"""


@_q("x_dedup_fuzzy_match", _X_FUZZY_SQL)
def x_dedup_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution over part names
    (operators/dedup.py:blocked_fuzzy_pairs): rows fold to the DISTINCT
    name dictionary first (vocabulary-sized — 64 names over 2000 parts
    at sf0.01, and still vocabulary-sized at 100 TB), the quadratic
    levenshtein join runs inside first-token blocks on that dictionary
    only, and per-name row counts ride along for downstream merge
    weighting. Levenshtein has identical unit-cost semantics in Spark
    and DuckDB, so the pair set is oracle-exact. Exact-duplicate names
    (dist 0) are excluded — that's x_dedup_exact's contract."""
    from ..operators.dedup import blocked_fuzzy_pairs

    part = load_table(spark, sf_dir, "part")
    return blocked_fuzzy_pairs(
        part,
        key_col="p_partkey",
        name_col="p_name",
        block_expr=F.split(F.col("p_name"), " ").getItem(0),
        max_dist=3,
    )


# --------------------------------------------------------------------------
# Round-15 addition: runtime bloom-filter join pruning (row-level DPP)
# --------------------------------------------------------------------------

_X_BLOOM_SQL = """
WITH urgent AS (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN urgent ON l_orderkey = o_orderkey
GROUP BY l_returnflag
"""


@_q("x_storage_runtime_bloom_filter", _X_BLOOM_SQL)
def x_storage_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME bloom-filter join pruning — the ROW-level sibling of
    dynamic partition pruning: when the selective side of a shuffle
    join is too big to broadcast (the 100 TB fact-fact case; broadcast
    handles only small dims, partition pruning only partition keys),
    Catalyst builds a bloom_filter_agg over the creation side's join
    keys at RUN time and injects might_contain into the fact scan's
    filters, so most non-matching fact rows die before the exchange
    instead of being shuffled and discarded by the join.

    The demo brackets the two thresholds that gate injection at these
    toy sizes (application-side scan >= 10 GB by default — trivially
    true at 100 TB, never true in a fixture) and pins the join to SMJ
    with the merge hint for the same reason; it executes the aggregate
    UNDER the bracket (a bounded collect — the result is one row per
    returnflag) and then RESTORES every conf, so nothing leaks into
    other queries' plans. The assertion reads the QueryExecution of
    the DataFrame that was just collected — the AQE FINAL plan that
    actually ran, not a never-executed sibling — so a
    silently-not-injected (or AQE-dropped) bloom fails loudly here
    (and in tests/test_storage.py), not just produces an unremarkable
    plan. Semantics are bloom-independent (false positives only cost
    work, the join still filters exactly), which is what the DuckDB
    oracle states with the plain static join."""
    confs = {
        # bracket the feature flag itself (ADVICE r15): on a session
        # where runtime bloom filters are disabled, the injection
        # assertion below would fail on an unrelated toggle instead of
        # testing the thresholds this query is about
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        urgent = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        joined = li.hint("merge").join(
            urgent, li["l_orderkey"] == urgent["o_orderkey"]
        )
        agg = joined.groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        rows = agg.collect()  # executes agg's own QueryExecution
        plan = agg._jdf.queryExecution().executedPlan().toString()
        if "bloom_filter_agg" not in plan:
            raise AssertionError(
                "runtime bloom filter was not injected into the "
                "executed join plan"
            )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    return spark.createDataFrame(rows, agg.schema)


# --------------------------------------------------------------------------
# Round-15 addition: catalog branch isolation + fast-forward merge
# --------------------------------------------------------------------------

_X_BRANCH_SQL = """
SELECT 'main' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer
UNION ALL
SELECT 'exp' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT 'merged' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer WHERE c_mktsegment = 'BUILDING'
"""


@_q("x_storage_branch_isolation", _X_BRANCH_SQL)
def x_storage_branch_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog BRANCHING exercised end-to-end under the hash gate
    (sources/txn.py branch refs, r15): commit the customer dim on
    main, fork an ``exp`` branch (O(1) metadata, zero data copy —
    manifests and version dirs are immutable and shared), commit a
    filtered rewrite on the branch, then read BOTH refs — main must
    still see every row while the branch sees only its rewrite (the
    isolation half) — and finally fast-forward-merge the branch into
    main and read main again (the publish half). The emitted
    (ref, n, key_sum) rows are pure functions of the source table, so
    DuckDB states the expected state of each ref without ever seeing
    the catalog: a broken CAS, a shared-version mutation, or a merge
    that lost the branch commit all flip a row. This is the
    experiment-fork workflow a training-data team runs at 100 TB —
    rewrite a dim on a branch, validate, promote with one pointer
    swap."""
    from ..sources.txn import Catalog

    cat = Catalog(_scratch_dir("spark_graft_branchiso_") + "/wh")
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    with cat.transaction() as t:
        t.overwrite(base, "dim_customer")
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(
            cat.read(spark, "dim_customer", branch="exp").filter(
                F.col("c_mktsegment") == "BUILDING"
            ),
            "dim_customer",
        )

    def digest(ref: str, label: str) -> DataFrame:
        return cat.read(spark, "dim_customer", branch=ref).agg(
            F.lit(label).alias("ref"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c_custkey").cast("long").alias("key_sum"),
        ).select("ref", "n", "key_sum")

    # isolation: main still full while exp holds the rewrite
    main_before = digest("main", "main")
    exp_state = digest("exp", "exp")
    # publish: one pointer swap moves main to the branch's manifest
    cat.merge_ff("exp")
    merged = digest("main", "merged")
    return main_before.unionByName(exp_state).unionByName(merged)


# --------------------------------------------------------------------------
# Round-16 addition: divergent-branch rebase (three-way manifest merge)
# --------------------------------------------------------------------------

_X_REBASE_SQL = """
SELECT 'dim' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT 'fact' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT 'conflict' AS ref, CAST(1 AS BIGINT) AS n, CAST(1 AS BIGINT) AS key_sum
"""


@_q("x_storage_branch_rebase", _X_REBASE_SQL)
def x_storage_branch_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog REBASE under the hash gate (sources/txn.py::rebase, r16
    — the non-fast-forward story VERDICT r15 task 6 asked for): fork
    ``exp`` off a two-table warehouse, rewrite the dim on the branch
    while MAIN independently rewrites the fact (divergent histories,
    disjoint tables), prove merge_ff refuses the divergence, then
    rebase — ONE new manifest = main's tables + the branch's change
    set, pure metadata — and fast-forward the rebased branch into
    main. The merged digests (dim row-set AND fact row-set) are pure
    functions of the source tables, so DuckDB states the expected
    post-merge warehouse without seeing the catalog: a rebase that
    lost either side's commit flips a row. The third row hash-gates
    CONFLICT detection: a second fork rewrites the SAME table both
    sides, and the emitted ('conflict', 1, n_conflicting_tables) row
    exists only if MergeConflictError fired naming exactly that table
    — silent conflict resolution fails the assertion, not just the
    hash."""
    from ..sources.txn import Catalog, MergeConflictError

    cat = Catalog(_scratch_dir("spark_graft_branchreb_") + "/wh")
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    fact = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    with cat.transaction() as t:
        t.overwrite(dim, "dim_customer")
        t.overwrite(fact, "fact_orders")
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(
            cat.read(spark, "dim_customer", branch="exp").filter(
                F.col("c_mktsegment") == "BUILDING"
            ),
            "dim_customer",
        )
    with cat.transaction() as t:  # main moves too -> histories diverge
        t.overwrite(
            cat.read(spark, "fact_orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            "fact_orders",
        )
    try:
        cat.merge_ff("exp")
        raise AssertionError("merge_ff accepted a divergent branch")
    except ValueError as exc:
        if "non-fast-forward" not in str(exc):
            raise
    cat.rebase("exp")  # replay exp's dim change onto main's new head
    cat.merge_ff("exp")  # now a pure pointer swap

    def digest(table: str, label: str, key: str) -> DataFrame:
        return cat.read(spark, table).agg(
            F.lit(label).alias("ref"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(key).cast("long").alias("key_sum"),
        ).select("ref", "n", "key_sum")

    merged_dim = digest("dim_customer", "dim", "c_custkey")
    merged_fact = digest("fact_orders", "fact", "o_orderkey")

    # conflict half: rewrite the SAME table on both sides of a new fork
    cat.create_branch("exp2")
    with cat.transaction(branch="exp2") as t:
        t.overwrite(
            cat.read(spark, "dim_customer", branch="exp2").filter(
                F.col("c_custkey") % 2 == 0
            ),
            "dim_customer",
        )
    with cat.transaction() as t:
        t.overwrite(
            cat.read(spark, "dim_customer").filter(
                F.col("c_custkey") % 2 == 1
            ),
            "dim_customer",
        )
    try:
        cat.rebase("exp2")
        raise AssertionError("rebase resolved a same-table conflict silently")
    except MergeConflictError as exc:
        if exc.tables != ["dim_customer"]:
            raise AssertionError(f"wrong conflict set: {exc.tables}")
        conflict = spark.range(1).select(
            F.lit("conflict").alias("ref"),
            F.lit(1).cast("long").alias("n"),
            F.lit(len(exc.tables)).cast("long").alias("key_sum"),
        )
    return merged_dim.unionByName(merged_fact).unionByName(conflict)


# --------------------------------------------------------------------------
# Round-16 addition: merge-on-read deletion vectors
# --------------------------------------------------------------------------

_X_DV_SQL = """
SELECT 'merged' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderstatus <> 'F' AND o_orderpriority <> '1-URGENT'
UNION ALL
SELECT 'dv' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderstatus = 'F' OR o_orderpriority = '1-URGENT'
UNION ALL
SELECT 'compacted' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderstatus <> 'F' AND o_orderpriority <> '1-URGENT'
"""


@_q("x_storage_deletion_vectors", _X_DV_SQL)
def x_storage_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE (operators/deletes.py, r16 — the Iceberg
    v2 delete-file / Delta deletion-vector posture): two delete
    batches land as KEYS-ONLY commits against an untouched base
    version (at 100 TB: a GDPR batch touching 0.01% of rows commits
    KBs, not a table rewrite), ``read_merged`` applies them as a
    broadcast LEFT ANTI join pinned to the base scan, and
    ``compact_deletes`` folds base-minus-dv + an emptied dv in ONE
    atomic manifest swap. Hash-gated rows: the merged digest after
    both deletes, the dv's own key census, and the post-compaction
    digest (must equal the merged one — a compaction that loses or
    resurrects a row flips it). All three are pure functions of the
    orders table, so DuckDB states them without seeing the catalog.
    The emptied-dv invariant is asserted in-code (a non-empty dv
    after compaction would double-delete on the next merge)."""
    from ..operators import deletes
    from ..sources.txn import Catalog

    cat = Catalog(_scratch_dir("spark_graft_dv_") + "/wh")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    with cat.transaction() as t:
        t.overwrite(base, "orders_mor")
    key = ("o_orderkey",)
    deletes.delete_where(
        cat, spark, "orders_mor", F.col("o_orderstatus") == "F", key
    )
    deletes.delete_where(
        cat, spark, "orders_mor",
        F.col("o_orderpriority") == "1-URGENT", key,
    )

    def digest(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("ref"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select("ref", "n", "key_sum")

    merged = digest(
        deletes.read_merged(cat, spark, "orders_mor", key), "merged"
    )
    dv_rows = digest(
        cat.read(spark, deletes.dv_table("orders_mor")), "dv"
    )
    deletes.compact_deletes(cat, spark, "orders_mor", key)
    if _cat_rows(cat, spark, deletes.dv_table("orders_mor")) != 0:
        raise AssertionError("deletion vector not emptied by compaction")
    compacted = digest(
        deletes.read_merged(cat, spark, "orders_mor", key), "compacted"
    )
    return merged.unionByName(dv_rows).unionByName(compacted)


# --------------------------------------------------------------------------
# Round-17 addition: catalog-level schema evolution
# --------------------------------------------------------------------------

_X_SCHEMA_EVO_SQL = """
SELECT 'replayed' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(LENGTH(c_name)) AS BIGINT) AS name_len,
       CAST(0 AS BIGINT) AS gold_n
FROM customer
UNION ALL
SELECT 'rewritten' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(LENGTH(c_name)) AS BIGINT) AS name_len,
       CAST(COUNT(*) FILTER (WHERE c_acctbal >= 5000) AS BIGINT) AS gold_n
FROM customer
"""


@_q("x_storage_schema_evolution", _X_SCHEMA_EVO_SQL)
def x_storage_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog SCHEMA EVOLUTION end-to-end (sources/txn.py
    evolve_schema, r17 — the dynamic form of the reference's
    dict-driven DDL, dynamic_upsert.py:9-26): commit a dim at v1,
    ALTER it by pure metadata (rename c_name -> customer_name, add
    loyalty_tier default 'standard'), and read the UNREWRITTEN v1
    files under the new schema ('replayed' row — every tier is the
    recorded default, asserted in-code). Then rewrite with computed
    tiers and chain a second rename (customer_name -> display_name)
    that must replay over BOTH file generations ('rewritten' row).
    At 100 TB the point is the non-event: ALTER TABLE is one small
    JSON commit; zero data files move until the next natural rewrite.
    Time travel keeps the schema of its era (asserted in-code on the
    pre-evolution manifest)."""
    from ..sources.txn import Catalog

    cat = Catalog(_scratch_dir("spark_graft_schevo_") + "/wh")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    with cat.transaction() as t:
        t.overwrite(cust, "dim_customer")
    m1 = cat.head()
    cat.evolve_schema("dim_customer", [
        {"op": "rename", "old": "c_name", "new": "customer_name"},
        {"op": "add", "col": "loyalty_tier", "type": "string",
         "default": "standard"},
    ])
    replayed_df = cat.read(spark, "dim_customer")

    def digest(df: DataFrame, label: str, name_col: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("ref"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.length(name_col)).cast("long").alias("name_len"),
            F.count(F.when(F.col("loyalty_tier") == "gold", 1))
            .cast("long").alias("gold_n"),
        ).select("ref", "n", "name_len", "gold_n")

    # in-code invariants the digest can't see: v1 files are untouched,
    # every replayed row carries the default, and time travel to the
    # pre-evolution manifest still shows the old columns
    n_total, n_std = replayed_df.agg(
        F.count(F.lit(1)),
        F.count(F.when(F.col("loyalty_tier") == "standard", 1)),
    ).first()
    if n_total != n_std:
        raise AssertionError("replayed rows lost the recorded default")
    if cat.read_asof(spark, "dim_customer", m1).columns != [
        "c_custkey", "c_name", "c_acctbal",
    ]:
        raise AssertionError("as-of read leaked the evolved schema")

    replayed = digest(replayed_df, "replayed", "customer_name")
    upgraded = replayed_df.withColumn(
        "loyalty_tier",
        F.when(F.col("c_acctbal") >= 5000, F.lit("gold")).otherwise(
            F.col("loyalty_tier")
        ),
    )
    with cat.transaction() as t:
        t.overwrite(upgraded, "dim_customer")
    cat.evolve_schema("dim_customer", [
        {"op": "rename", "old": "customer_name", "new": "display_name"},
    ])
    rewritten = digest(
        cat.read(spark, "dim_customer"), "rewritten", "display_name"
    )
    return replayed.unionByName(rewritten)


# --------------------------------------------------------------------------
# Round-17 addition: merge-on-read UPSERT (Hudi-MOR posture)
# --------------------------------------------------------------------------

_X_MOR_UPSERT_SQL = """
WITH logical AS (
  SELECT c_custkey AS k,
         CASE WHEN c_custkey % 14 = 0 THEN 'VVIP'
              WHEN c_custkey % 7 = 0 THEN 'VIP'
              ELSE c_mktsegment END AS segment
  FROM customer
  UNION ALL
  SELECT c_custkey + 1000000 AS k, 'NEW' AS segment
  FROM customer WHERE c_custkey % 13 = 0),
final AS (SELECT k, segment FROM logical WHERE k % 11 <> 0)
SELECT 'merged' AS ref, segment, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM final GROUP BY segment
UNION ALL
SELECT 'compacted' AS ref, segment, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM final GROUP BY segment
"""


@_q("x_storage_mor_upsert", _X_MOR_UPSERT_SQL)
def x_storage_mor_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPSERT end-to-end (operators/mor_upsert.py, r17 —
    the Hudi-MOR / Iceberg-v2 write posture completing the r16
    deletion vectors): two update batches (%7 -> VIP, then %14 ->
    VVIP overriding half of them — later upserts win) and an insert
    batch (+1M keys, NEW) land as tiny DELTA commits against an
    untouched base; a delete batch (%11) lands as a dv commit and
    beats any stale delta of the same key because the dv applies
    LAST. The DELETE evaluates over the MERGED logical state (r18,
    ADVICE r17): its key predicate prunes upsert-inserted NEW rows
    too, which the oracle states by applying the %11 filter AFTER the
    union. Two digest generations are emitted —
    'merged' (read through base∪delta∪dv) and 'compacted' (after
    compact_upserts folds the delta in one atomic manifest) — and
    must be identical, which is the compaction invariant itself; the
    emptied delta is asserted in-code."""
    from ..operators import deletes as _del
    from ..operators import mor_upsert as mor
    from ..sources.txn import Catalog

    cat = Catalog(_scratch_dir("spark_graft_mor_") + "/wh")
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("segment"),
    )
    with cat.transaction() as t:
        t.overwrite(base, "dim_seg")
    key = ("k",)
    mor.upsert_into(
        cat, spark, "dim_seg",
        base.filter(F.col("k") % 7 == 0).withColumn("segment", F.lit("VIP")),
        key,
    )
    mor.upsert_into(
        cat, spark, "dim_seg",
        base.filter(F.col("k") % 14 == 0).withColumn("segment", F.lit("VVIP")),
        key,
    )
    mor.upsert_into(
        cat, spark, "dim_seg",
        base.filter(F.col("k") % 13 == 0).select(
            (F.col("k") + 1000000).alias("k"), F.lit("NEW").alias("segment")
        ),
        key,
    )
    _del.delete_where(cat, spark, "dim_seg", F.col("k") % 11 == 0, key)

    def digest(df: DataFrame, label: str) -> DataFrame:
        return df.groupBy("segment").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_sum"),
        ).select(F.lit(label).alias("ref"), "segment", "n", "key_sum")

    merged = digest(
        mor.read_upserted(cat, spark, "dim_seg", key), "merged"
    )
    mor.compact_upserts(cat, spark, "dim_seg", key)
    if _cat_rows(cat, spark, mor.delta_table("dim_seg")) != 0:
        raise AssertionError("delta not emptied by compaction")
    compacted = digest(
        mor.read_upserted(cat, spark, "dim_seg", key), "compacted"
    )
    return merged.unionByName(compacted)


# --------------------------------------------------------------------------
# Round-17 addition: snapshot diff (the lakehouse CDC surface)
# --------------------------------------------------------------------------

_X_SNAPSHOT_DIFF_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN 'X-CHANGED'
            ELSE o_orderpriority END AS o_orderpriority,
       'added' AS change
FROM orders WHERE o_orderkey % 2 <> 0 AND o_orderkey % 3 = 0
UNION ALL
SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderpriority,
       'removed' AS change
FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, 'X-CHANGED' AS o_orderpriority, 'changed' AS change
FROM orders
WHERE o_orderkey % 2 <> 0 AND o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0
"""


@_q("x_storage_snapshot_diff", _X_SNAPSHOT_DIFF_SQL)
def x_storage_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between two catalog snapshots
    (Catalog.snapshot_diff, r17 — the Delta CDF / Iceberg
    changelog-scan surface): commit v1 (orders keys not divisible by
    3), commit v2 (keys not divisible by 2, priorities rewritten on
    multiples of 5), then diff the two manifests by key. ONE
    full-outer hash join classifies every row as added / removed /
    changed — unchanged rows never emit, nothing data-sized touches
    the driver. The oracle states the exact same row set from the
    modular predicates alone, so the key pins keys, new-side values
    (NULL for removals), and classification."""
    from ..sources.txn import Catalog

    cat = Catalog(_scratch_dir("spark_graft_snapdiff_") + "/wh")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    with cat.transaction() as t:
        t.overwrite(base.filter(F.col("o_orderkey") % 3 != 0), "orders_cdc")
    m_old = cat.head()
    v2 = base.filter(F.col("o_orderkey") % 2 != 0).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X-CHANGED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    with cat.transaction() as t:
        t.overwrite(v2, "orders_cdc")
    return cat.snapshot_diff(
        spark, "orders_cdc", m_old, cat.head(),
        key_cols=("o_orderkey",), compare_cols=("o_orderpriority",),
    )


# --------------------------------------------------------------------------
# Round-16 addition: MMR diversity re-rank (integer-grid greedy)
# --------------------------------------------------------------------------


def _mmr_sql(
    n_queries: int = 8, kc: int = 16, m: int = 5,
    scale: int = 1024, dim: int = 64,
) -> str:
    """DuckDB oracle for similarity.mmr_rerank: the SAME integer-grid
    greedy UNROLLED as m CTE rounds — candidates by quantized dot,
    pairwise candidate dots computed once, then per round
    score = rel - max(dot with selected), argmax with (score DESC, cid)
    tiebreak. Generated next to the Spark constants so a parameter
    change cannot desynchronize the engines."""
    qz = (
        "list_transform({col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
    )
    idot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> {a}[i] * {b}[i]))"
    )
    parts = [f"""
WITH qg AS (
  SELECT vec_id AS query_id, {qz.format(col='embedding')} AS qv
  FROM embeddings WHERE vec_id < {n_queries}),
eg AS (SELECT vec_id AS cid, {qz.format(col='embedding')} AS cv
       FROM embeddings),
scoredall AS (
  SELECT q.query_id, e.cid, e.cv,
         {idot.format(a='q.qv', b='e.cv')} AS rel
  FROM qg q, eg e WHERE e.cid <> q.query_id),
cand AS (
  SELECT query_id, cid, cv, rel FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cid) AS rn
    FROM scoredall) WHERE rn <= {kc}),
dots AS (
  SELECT a.query_id AS dq, a.cid AS ca, b.cid AS cb,
         {idot.format(a='a.cv', b='b.cv')} AS d
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.cid <> b.cid),
sel1 AS (
  SELECT query_id, cid, 1 AS position, CAST(rel AS BIGINT) AS score FROM (
    SELECT query_id, cid, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, cid) AS rn
    FROM cand) WHERE rn = 1),
selall1 AS (SELECT * FROM sel1)"""]
    for r in range(2, m + 1):
        parts.append(f""",
scored{r} AS (
  SELECT c.query_id, c.cid, c.rel - MAX(d.d) AS score
  FROM cand c
  JOIN selall{r - 1} s ON s.query_id = c.query_id
  JOIN dots d ON d.dq = c.query_id AND d.ca = c.cid AND d.cb = s.cid
  WHERE NOT EXISTS (SELECT 1 FROM selall{r - 1} p
                    WHERE p.query_id = c.query_id AND p.cid = c.cid)
  GROUP BY c.query_id, c.cid, c.rel),
sel{r} AS (
  SELECT query_id, cid, {r} AS position, CAST(score AS BIGINT) AS score
  FROM (
    SELECT query_id, cid, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, cid) AS rn
    FROM scored{r}) WHERE rn = 1),
selall{r} AS (SELECT * FROM selall{r - 1} UNION ALL SELECT * FROM sel{r})""")
    parts.append(f"""
SELECT query_id, CAST(position AS INTEGER) AS position,
       cid AS selected_id, score AS mmr_score
FROM selall{m}""")
    return "".join(parts)


@_q("x_sim_mmr_rerank", _mmr_sql())
def x_sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware top-k: MMR greedy re-rank of brute-candidate
    lists for 8 query vectors (operators/similarity.py::mmr_rerank —
    Carbonell & Goldstein 1998, lambda = 1/2 scaled to the exact
    integer form rel - max_div). The ENTIRE greedy — candidate
    generation, pairwise diversity dots, all 5 selection rounds with
    their tiebreaks — is exact integer arithmetic on the 2^10 grid, so
    the selected SET is bit-reproducible across engines and the DuckDB
    oracle replays it verbatim as unrolled CTEs. Scale shape: one
    broadcast-query map-side scoring pass over the corpus + per-query
    top-16 window (swap in the IVF tier at 100 TB), then everything
    operates on queries x 16 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 8),
        k_candidates=16, m=5, grid_bits=10,
    )


# --------------------------------------------------------------------------
# Round-18 addition: position-based merge-on-read deletes (Iceberg v2
# positional delete files / Delta deletion-vector fast path)
# --------------------------------------------------------------------------

_X_PDV_SQL = """
WITH appended AS (
  SELECT o_orderkey + 10000000 AS k, o_orderstatus AS status, o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0),
base_kept AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice
  FROM orders
  WHERE o_orderstatus <> 'F' AND o_totalprice >= 50000),
app_kept AS (
  SELECT k, status, o_totalprice FROM appended
  WHERE o_totalprice >= 50000),
final AS (SELECT k, status FROM base_kept
          UNION ALL SELECT k, status FROM app_kept)
SELECT 'merged' AS ref, status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM final GROUP BY status
UNION ALL
SELECT 'compacted' AS ref, status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM final GROUP BY status
"""


@_q("x_storage_positional_deletes", _X_PDV_SQL)
def x_storage_positional_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POSITIONAL merge-on-read deletes end-to-end
    (operators/positional_deletes.py, r18 — Iceberg v2 positional
    delete files; VERDICT r17 task #2): a delete batch records
    (data_file, row_index) anchors against an untouched base — the
    read path anti-joins on two scan-metadata columns Spark
    materializes for free (_metadata.file_path / row_index, the Delta
    deletion-vector mechanism). The composition under test is the one
    that SEPARATES positional from equality deletes: after deleting
    all status='F' rows, an APPEND adds rows that also carry
    status='F' — hard-linked base files keep their anchors, while the
    appended rows are born UNDELETED (asserted in-code), exactly the
    Iceberg contract; a second positional delete then prunes
    o_totalprice < 50000 across BOTH file generations. Digests are
    emitted through the merged read and again after
    compact_positional_deletes folds base-minus-positions + an emptied
    pdv in ONE atomic manifest swap — both must match the oracle's
    pure-content statement of the same deletes."""
    from ..operators import positional_deletes as pdel
    from ..sources.txn import Catalog

    cat = Catalog(_scratch_dir("spark_graft_pdv_") + "/wh")
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    )
    with cat.transaction() as t:
        t.overwrite(base, "orders_pos")
    pdel.delete_where_positional(
        cat, spark, "orders_pos", F.col("status") == "F"
    )
    appended = base.filter(F.col("k") % 10 == 0).select(
        (F.col("k") + 10000000).alias("k"), "status", "o_totalprice"
    )
    with cat.transaction() as t:
        t.append(appended, "orders_pos")
    # appended F-status rows are born undeleted even though an earlier
    # positional delete removed every base F row — the invariant that
    # distinguishes positional from equality deletes
    n_f_appended = (
        pdel.read_positional(cat, spark, "orders_pos")
        .filter((F.col("status") == "F") & (F.col("k") >= 10000000))
        .count()
    )
    if n_f_appended == 0:
        raise AssertionError(
            "appended F rows were swallowed by a stale positional delete"
        )
    pdel.delete_where_positional(
        cat, spark, "orders_pos", F.col("o_totalprice") < 50000
    )

    def digest(df: DataFrame, label: str) -> DataFrame:
        return df.groupBy("status").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_sum"),
        ).select(F.lit(label).alias("ref"), "status", "n", "key_sum")

    merged = digest(
        pdel.read_positional(cat, spark, "orders_pos"), "merged"
    )
    pdel.compact_positional_deletes(cat, spark, "orders_pos")
    if _cat_rows(cat, spark, pdel.pdv_table("orders_pos")) != 0:
        raise AssertionError("pdv not emptied by compaction")
    compacted = digest(
        pdel.read_positional(cat, spark, "orders_pos"), "compacted"
    )
    return merged.unionByName(compacted)


# --------------------------------------------------------------------------
# Round-18 addition: schema-evolution TYPE WIDENING
# --------------------------------------------------------------------------

_X_WIDEN_SQL = """
WITH conformed AS (
  SELECT CAST(p_partkey AS BIGINT) AS part_id,
         CAST(CAST(p_retailprice AS DECIMAL(8,2)) AS DECIMAL(18,4))
           AS retail
  FROM part),
scaled AS (
  SELECT part_id,
         CASE WHEN part_id % 2 = 0
              THEN CAST(retail * 1000000 AS DECIMAL(18,4))
              ELSE retail END AS retail
  FROM conformed)
SELECT 'replayed' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(part_id) AS BIGINT) AS id_sum,
       CAST(CAST(SUM(retail) AS DECIMAL(38,4)) * 10000 AS BIGINT)
         AS retail_ten_thousandths
FROM conformed
UNION ALL
SELECT 'rewritten' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(part_id) AS BIGINT) AS id_sum,
       CAST(CAST(SUM(retail) AS DECIMAL(38,4)) * 10000 AS BIGINT)
         AS retail_ten_thousandths
FROM scaled
"""


@_q("x_storage_schema_widening", _X_WIDEN_SQL)
def x_storage_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution TYPE WIDENING end-to-end (sources/txn.py
    "widen" op, r18 — the Iceberg/Delta type-promotion contract;
    VERDICT r17 task #4): commit a parts dim with INT keys and
    DECIMAL(8,2) prices, then ALTER both columns by pure metadata
    (INT -> BIGINT, DECIMAL(8,2) -> DECIMAL(18,4)) — zero data files
    move; the v1 files replay under the wide schema ('replayed' row).
    Then a transaction REWRITES the table with values only the wide
    types can hold (even part ids scaled x1e6 — overflow in
    DECIMAL(8,2)), exercising the r17 corruption class: the rewrite
    resets the op list, so the widen must not replay over (or fight)
    the already-wide files ('rewritten' row). In-code asserts pin the
    replayed dtypes, the time-travel narrow dtypes of the pre-widen
    era, and the op-list reset after the rewrite. At 100 TB the point
    is ALTER COLUMN TYPE as one small JSON commit instead of a
    full-table rewrite."""
    from ..sources.txn import Catalog

    cat = Catalog(_scratch_dir("spark_graft_widen_") + "/wh")
    base = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("int").alias("part_id"),
        F.col("p_retailprice").cast("decimal(8,2)").alias("retail"),
    )
    with cat.transaction() as t:
        t.overwrite(base, "dim_part")
    m1 = cat.head()
    cat.evolve_schema("dim_part", [
        {"op": "widen", "col": "part_id", "type": "bigint"},
        {"op": "widen", "col": "retail", "type": "decimal(18,4)"},
    ])
    replayed_df = cat.read(spark, "dim_part")
    if dict(replayed_df.dtypes) != {
        "part_id": "bigint", "retail": "decimal(18,4)",
    }:
        raise AssertionError("widen replay did not surface wide types")
    if dict(cat.read_asof(spark, "dim_part", m1).dtypes) != {
        "part_id": "int", "retail": "decimal(8,2)",
    }:
        raise AssertionError("time travel leaked the widened schema")

    def digest(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("part_id").cast("long").alias("id_sum"),
            (F.sum("retail").cast("decimal(38,4)") * 10000)
            .cast("long")
            .alias("retail_ten_thousandths"),
        ).select(
            F.lit(label).alias("ref"), "n", "id_sum",
            "retail_ten_thousandths",
        )

    replayed = digest(replayed_df, "replayed")
    scaled = replayed_df.withColumn(
        "retail",
        F.when(
            F.col("part_id") % 2 == 0,
            (F.col("retail") * 1000000).cast("decimal(18,4)"),
        ).otherwise(F.col("retail")),
    )
    with cat.transaction() as t:
        t.overwrite(scaled, "dim_part")
    if "dim_part" in cat._manifest_schemas(cat.head()):
        raise AssertionError("rewrite did not reset the widen op list")
    rewritten = digest(cat.read(spark, "dim_part"), "rewritten")
    return replayed.unionByName(rewritten)


# --------------------------------------------------------------------------
# Round-18 addition: retention policy (lakehouse maintenance loop)
# --------------------------------------------------------------------------

_X_RETENTION_SQL = """
WITH batches AS (
  SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
  WHERE o_orderkey % 4 = 1),
upserts AS (
  SELECT o_orderkey AS k, 'TOUCHED' AS status FROM orders
  WHERE o_orderkey % 4 = 1 AND o_orderkey % 3 = 0),
logical AS (
  SELECT b.k,
         COALESCE(u.status, b.status) AS status
  FROM batches b LEFT JOIN upserts u ON b.k = u.k
  WHERE b.k % 5 <> 0)
SELECT 'before' AS ref, status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM logical GROUP BY status
UNION ALL
SELECT 'after' AS ref, status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM logical GROUP BY status
"""


@_q("x_storage_retention_policy", _X_RETENTION_SQL)
def x_storage_retention_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION POLICY end-to-end (operators/retention.py, r18 —
    Delta OPTIMIZE / Hudi compaction-strategy posture; VERDICT r17
    task #3): build up every kind of merge-on-read debt against one
    table — 4 exactly-once streaming micro-batch appends (tiny part
    files + 4 ledger rows), an upsert delta, a key deletion vector —
    then run ONE ``enforce_retention`` call with eager thresholds and
    prove reads are IDENTICAL before and after ('before'/'after'
    digests, hash-gated against the oracle's pure-content statement).
    In-code asserts pin the physical effects the digest can't see:
    every fold actually ran, the base file count dropped to the
    policy target, the ledger folded to one max row whose replay
    protection still holds (an old batch id re-delivered after the
    fold publishes nothing). This is the loop a 100 TB streaming
    lakehouse runs forever: debt accrues per-commit bounded, a
    maintenance pass folds it back, and no reader can tell."""
    from ..operators import deletes as _del
    from ..operators import mor_upsert as mor
    from ..operators import retention
    from ..sources.txn import Catalog
    from ..streaming.exactly_once import ledger_table
    from ..streaming import exactly_once as xo

    cat = Catalog(_scratch_dir("spark_graft_retain_") + "/wh")
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
    ).filter(F.col("k") % 4 == 1)
    key = ("k",)
    # 4 streaming micro-batches, exactly-once, quartered by key range
    sink = xo.exactly_once_batch_sink(cat, "orders_ret", "ingest")
    hi = base.agg(F.max("k")).first()[0]
    step = (hi // 4) + 1
    for b in range(4):
        sink(
            base.filter(
                (F.col("k") >= b * step) & (F.col("k") < (b + 1) * step)
            ),
            b,
        )
    # MoR debt: an upsert delta and a deletion vector
    mor.upsert_into(
        cat, spark, "orders_ret",
        base.filter(F.col("k") % 3 == 0).withColumn(
            "status", F.lit("TOUCHED")
        ),
        key,
    )
    _del.delete_where(cat, spark, "orders_ret", F.col("k") % 5 == 0, key)

    def digest(label: str) -> DataFrame:
        return (
            mor.read_upserted(cat, spark, "orders_ret", key)
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("k").cast("long").alias("key_sum"),
            )
            .select(F.lit(label).alias("ref"), "status", "n", "key_sum")
        )

    before = digest("before")
    before_rows = before.collect()  # pin BEFORE the folds run
    policy = retention.RetentionPolicy(
        max_side_bytes=1, max_side_ratio=None,
        max_base_files=2, target_file_bytes=1 << 30,
        max_ledger_rows_per_app=1,
    )
    actions = retention.enforce_retention(
        cat, spark, "orders_ret", key, policy=policy
    )
    for needed in ("fold_upsert_delta", "fold_deletion_vector",
                   "fold_ledger", "compact_base_files"):
        if not actions[needed]:
            raise AssertionError(f"retention did not run {needed}")
    stats = retention.table_stats(cat, "orders_ret")
    if stats["files"] > 2:
        raise AssertionError("base file count not bounded by the policy")
    if _cat_rows(cat, spark, ledger_table("orders_ret")) != 1:
        raise AssertionError("ledger did not fold to one row per app")
    # replay protection survives the fold: an OLD batch id re-delivered
    # after folding publishes nothing
    head = cat.head()
    sink(base.limit(5), 1)
    if cat.head() != head:
        raise AssertionError("folded ledger lost replay protection")
    after = digest("after")
    return spark.createDataFrame(
        before_rows, before.schema
    ).unionByName(after)


# --------------------------------------------------------------------------
# Round-18 addition: snapshot rollback + history expiry (the remaining
# Iceberg lifecycle ops)
# --------------------------------------------------------------------------

_X_ROLLBACK_SQL = """
SELECT 'rolled_back' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 'after_redo' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 'after_expire' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey % 2 = 0
"""


@_q("x_storage_rollback_expire", _X_ROLLBACK_SQL)
def x_storage_rollback_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot ROLLBACK + history EXPIRY end-to-end (sources/txn.py
    rollback_to / expire_snapshots, r18 — Iceberg's
    rollback_to_snapshot and expire_snapshots, the two lifecycle ops
    the catalog still lacked): commit v1, commit a bad v2, roll the
    ref back to v1 with one O(1) CAS pointer move ('rolled_back'
    digest = v1's content — the undo is metadata-only, zero data
    copied), then commit a corrective v3 whose parent is v1 — the
    abandoned v2 is now unreachable (asserted in-code) and reclaimed
    by gc. Finally expire_snapshots(keep_last=2) truncates history:
    time travel to the expired manifest raises (asserted in-code)
    while the head read is bit-identical ('after_expire' digest ==
    'after_redo'). Together with retention this bounds an infinite
    streaming run's METADATA growth, not just its data debt."""
    from ..sources.txn import Catalog

    cat = Catalog(_scratch_dir("spark_graft_rollb_") + "/wh")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    with cat.transaction() as t:
        t.overwrite(base.filter(F.col("o_orderkey") % 3 == 0), "orders_rb")
    m1 = cat.head()
    with cat.transaction() as t:  # the "bad" commit
        t.overwrite(base, "orders_rb")
    m2 = cat.head()
    cat.rollback_to(m1)

    def digest(label: str) -> DataFrame:
        return cat.read(spark, "orders_rb").agg(
            F.lit(label).alias("ref"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select("ref", "n", "key_sum")

    rolled_back = digest("rolled_back")
    rolled_rows = rolled_back.collect()  # pin BEFORE later commits
    with cat.transaction() as t:  # corrective commit, parents onto m1
        t.overwrite(base.filter(F.col("o_orderkey") % 2 == 0), "orders_rb")
    m3 = cat.head()
    if cat._manifest_parent(m3) != m1:
        raise AssertionError("corrective commit did not parent onto m1")
    if m2 in cat._reachable_manifests():
        raise AssertionError("abandoned commit still reachable")
    after_redo = digest("after_redo")
    redo_rows = after_redo.collect()
    report = cat.expire_snapshots(keep_last=2, grace_seconds=0.0)
    if m2 not in report["expired_manifests"]:
        raise AssertionError("abandoned manifest survived expiry")
    try:
        cat.read_asof(spark, "orders_rb", m2)
    except FileNotFoundError:
        pass
    else:
        raise AssertionError("expired manifest still time-travelable")
    after_expire = digest("after_expire")
    sch = rolled_back.schema
    return (
        spark.createDataFrame(rolled_rows, sch)
        .unionByName(spark.createDataFrame(redo_rows, sch))
        .unionByName(after_expire)
    )


# --------------------------------------------------------------------------
# Round-18 addition: CHECK constraints (write-side data contracts)
# --------------------------------------------------------------------------

_X_CONSTRAINTS_SQL = """
WITH good AS (
  SELECT o_orderkey AS k, o_totalprice AS amt FROM orders
  WHERE o_totalprice > 0 AND o_orderkey % 2 = 0)
SELECT 'committed' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM good
UNION ALL
SELECT 'after_rejects' AS ref, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM good
"""


@_q("x_storage_check_constraints", _X_CONSTRAINTS_SQL)
def x_storage_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints end-to-end (sources/txn.py add_constraint /
    ConstraintViolationError, r18 — the Delta ALTER TABLE ADD
    CONSTRAINT contract): declare ``amt > 0`` on an empty table
    (declare-before-load), commit a conforming load, then prove the
    gate by attempting THREE violating writes — a negative-amount
    append, a NULL-amount append (NULL is a violation: every row must
    evaluate TRUE), and a violating full overwrite — each of which
    must raise and publish NOTHING (head asserted unchanged in-code).
    Enforcement costs O(written rows): the check runs on the staged
    batch, so a 100 TB table charges an appended micro-batch for its
    own rows only. Digests before and after the rejected writes are
    hash-gated to the same oracle statement — bad data is
    unrepresentable in the committed catalog."""
    from ..sources.txn import Catalog, ConstraintViolationError

    cat = Catalog(_scratch_dir("spark_graft_chk_") + "/wh")
    cat.add_constraint(spark, "orders_chk", "amt_positive", "amt > 0")
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("amt"),
    ).filter(F.col("k") % 2 == 0)
    with cat.transaction() as t:
        t.overwrite(base, "orders_chk")

    def digest(label: str) -> DataFrame:
        return cat.read(spark, "orders_chk").agg(
            F.lit(label).alias("ref"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_sum"),
        ).select("ref", "n", "key_sum")

    committed = digest("committed")
    committed_rows = committed.collect()
    head = cat.head()
    attempts = [
        lambda t: t.append(
            spark.createDataFrame([(1_000_001, -5.0)], "k long, amt double"),
            "orders_chk",
        ),
        lambda t: t.append(
            spark.createDataFrame([(1_000_003, None)], "k long, amt double"),
            "orders_chk",
        ),
        lambda t: t.overwrite(
            base.withColumn("amt", -F.col("amt")), "orders_chk"
        ),
    ]
    for stage in attempts:
        try:
            with cat.transaction() as t:
                stage(t)
        except ConstraintViolationError:
            pass
        else:
            raise AssertionError("violating write was not rejected")
        if cat.head() != head:
            raise AssertionError("rejected write published a manifest")
    after = digest("after_rejects")
    return spark.createDataFrame(
        committed_rows, committed.schema
    ).unionByName(after)


# --------------------------------------------------------------------------
# Round-18 addition: partition-scoped file compaction (Iceberg
# rewrite_data_files / Delta OPTIMIZE WHERE)
# --------------------------------------------------------------------------

_X_PART_COMPACT_SQL = """
WITH final AS (
  SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
  UNION ALL
  SELECT o_orderkey + 20000000 AS k, 'O' AS status FROM orders
  WHERE o_orderkey % 100 < 5)
SELECT 'before' AS ref, status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM final GROUP BY status
UNION ALL
SELECT 'after' AS ref, status, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM final GROUP BY status
"""


@_q("x_storage_partition_compaction", _X_PART_COMPACT_SQL)
def x_storage_partition_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION-SCOPED compaction end-to-end (sources/txn.py
    compact_partitions, r18 — Iceberg rewrite_data_files / Delta
    OPTIMIZE WHERE): a status-partitioned orders table takes 5
    micro-batch appends into ONE hot partition ('O' — the streaming
    today-partition pattern), building small-file debt there while the
    other partitions stay healthy. compact_partitions then rewrites
    ONLY the offender: in-code asserts pin that the hot partition's
    file count drops to the bound, that a healthy partition's files
    survive with IDENTICAL inodes (hard-linked, zero data moved — the
    property that makes this the only sane compaction at 100 TB,
    where 'rewrite the table' is not an option), and that a second
    call is a no-op. Digests through the committed read before and
    after are hash-gated to one oracle statement."""
    import os as _os

    from ..sources.txn import Catalog, _version_dir

    cat = Catalog(_scratch_dir("spark_graft_pcomp_") + "/wh")
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
    )
    with cat.transaction() as t:
        t.overwrite(base, "orders_part", partition_by=("status",))
    hot = base.filter(F.col("k") % 100 < 5).select(
        (F.col("k") + 20000000).alias("k"), F.lit("O").alias("status")
    )

    def part_files(vdir: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for root, _, files in _os.walk(vdir):
            parts = [f for f in files if f.endswith(".parquet")]
            if parts:
                out[_os.path.relpath(root, vdir)] = sorted(parts)
        return out

    # Append enough single-file micro-batches that the hot partition
    # EXCEEDS every healthy partition's file count whatever layout the
    # base write produced (code-review r18: with a fixed count, a base
    # layout where a healthy partition happens to carry >= that many
    # more files than status=O would leave the hot partition inside
    # the derived bound and abort debt detection). Modulo slices, not
    # randomSplit: every slice is provably non-empty at the fixture
    # sizes, and an empty append would publish nothing (r17 semantics)
    # and silently shrink the debt.
    base_layout = part_files(
        _version_dir(cat.table_dir("orders_part"), cat.manifest()["orders_part"])
    )
    healthy_max = max(
        len(fs) for p, fs in base_layout.items() if p != "status=O"
    )
    n_hot = max(5, healthy_max - len(base_layout.get("status=O", [])) + 1)
    for i in range(n_hot):
        with cat.transaction() as t:
            t.append(
                hot.filter(F.col("k") % n_hot == i).coalesce(1),
                "orders_part",
            )

    def digest(label: str) -> DataFrame:
        return cat.read(spark, "orders_part").groupBy("status").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_sum"),
        ).select(F.lit(label).alias("ref"), "status", "n", "key_sum")

    before = digest("before")
    before_rows = before.collect()
    vdir_before = _version_dir(
        cat.table_dir("orders_part"), cat.manifest()["orders_part"]
    )
    files_before = part_files(vdir_before)
    healthy = next(p for p in sorted(files_before) if p != "status=O")
    inodes_before = {
        f: _os.stat(_os.path.join(vdir_before, healthy, f)).st_ino
        for f in files_before[healthy]
    }
    # The small-file bound derives from the OBSERVED healthy-partition
    # layout (not a fixture-tuned constant): every partition the base
    # write produced is by definition healthy, so the bound is their
    # max file count — only the 5 coalesce(1) appends' debt makes the
    # hot partition an offender. Fixture-size independent (at sf1 the
    # base write legitimately makes more files per partition).
    bound = max(
        len(fs) for p, fs in files_before.items() if p != "status=O"
    )
    m = cat.compact_partitions(
        spark, "orders_part", max_files_per_partition=bound
    )
    if m is None:
        raise AssertionError("hot partition debt not detected")
    vdir_after = _version_dir(
        cat.table_dir("orders_part"), cat.manifest()["orders_part"]
    )
    files_after = part_files(vdir_after)
    if len(files_after["status=O"]) > bound:
        raise AssertionError("hot partition not compacted to the bound")
    if files_after[healthy] != files_before[healthy] or any(
        _os.stat(_os.path.join(vdir_after, healthy, f)).st_ino
        != inodes_before[f]
        for f in files_after[healthy]
    ):
        raise AssertionError(
            "healthy partition was rewritten (should hard-link)"
        )
    if cat.compact_partitions(
        spark, "orders_part", max_files_per_partition=bound
    ) is not None:
        raise AssertionError("second compaction was not a no-op")
    after = digest("after")
    return spark.createDataFrame(
        before_rows, before.schema
    ).unionByName(after)
