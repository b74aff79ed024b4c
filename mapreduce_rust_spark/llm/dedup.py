"""Deduplication operators over ``documents`` — exact and near-dup.

All hashing is md5-derived so every stage has an exact DuckDB oracle
(Spark ``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` — a portable 60-bit
hash). At 100 TB none of these operators ever forms a cross product:

- exact: one hash-groupBy on a 32-byte digest (shuffle keyed on the
  digest, trivially parallel; digest-first also dodges wide-row skew).
- MinHash-LSH: shingle→signature→band→bucket-join. Work per doc is
  O(shingles×k); candidate generation is b hash-joins on band keys —
  the banding trades recall for never comparing non-colliding pairs.
- n-gram Jaccard: inverted-index self-join on shingles (pairs share
  ≥1 shingle), not all-pairs. Hot shingles should be stop-worded /
  df-capped at scale (df cap keeps the join from quadratic blowup on
  boilerplate).
- PPJoin prefix filtering: the LOSSLESS alternative to the df-cap —
  rarest-first prefixes keep hot shingles out of the candidate join
  without changing Jaccard semantics (pair-set-equal to the
  exhaustive join, proven in tests).
- SimHash: per-token hash → per-bit majority → 60-bit signature;
  two groupBys, linear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.text import whitespace_tokens
from mapreduce_rust_spark.memo import session_memo
from mapreduce_rust_spark.tables import load_table

N_PERM = 16      # MinHash permutations
N_BANDS = 4      # LSH bands (r = N_PERM // N_BANDS rows per band)
JACCARD_T = 0.3  # near-dup verification threshold
SHINGLE_W = 3    # word-shingle width


def _md5int60(col) -> F.Column:
    """Portable 60-bit hash (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _shingles(toks_col) -> F.Column:
    """Distinct word 3-shingles over a tokens array column; empty
    array for docs under 3 tokens."""
    n = F.size(toks_col)
    return F.when(
        n >= SHINGLE_W,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - (SHINGLE_W - 1)),
            lambda i: F.array_join(F.slice(toks_col, i, SHINGLE_W), " "))),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))


def _shingle_table_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) inverted-index input. The regex split is
    materialized as its own column FIRST: referencing the split
    expression inside the per-element shingle lambda would re-run the
    regex once per shingle (measured ~5x slower)."""
    toks = docs.select("doc_id", F.split(F.col("text"), r"\s+").alias("toks"))
    return toks.select("doc_id", F.explode(_shingles(F.col("toks"))).alias("s"))


def _shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shingle_table_from_docs(load_table(spark, sf_dir, "documents"))


# The shingle index is a ``result`` session memo, one persisted table
# per sf_dir: the materialized inverted index every dedup pass shares.
# Without it every minhash/ngram/curation call persisted a FRESH
# lineage copy and never released it, so repeated calls stacked
# duplicate caches and churned the LRU store (the round-3
# curation_pipeline +38% regression).
def _persisted_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_memo(spark, "result", ("shingles", sf_dir),
                        lambda: _shingle_table(spark, sf_dir).persist())


# --- exact dedup ----------------------------------------------------------

def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash exact dedup: groups by sha256(text), keeps the
    min doc_id as representative. One shuffle on the digest."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("content_sha"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_copies"))
    )


EXACT_DEDUP_ORACLE = """
SELECT sha256(text) AS content_sha,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY sha256(text)
"""


# --- MinHash + LSH ----------------------------------------------------------

def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: MinHash signatures → LSH banding → candidate
    bucket join → exact-Jaccard verification at ``JACCARD_T``.

    Candidates are generated ONLY for docs colliding in ≥1 band
    (never all-pairs); verification joins candidates back to the
    shingle index. Returns (doc_a, doc_b, jaccard).

    The shingle index feeds four plan branches (signatures, sizes,
    both verify probes); it is persisted ONCE per (session, sf_dir)
    via ``_persisted_shingles`` and shared across every dedup operator
    — at scale this is the materialized inverted index every dedup
    pass shares. Spark evicts it LRU when memory is needed.

    The verified pair table is a ``result`` session memo per sf_dir
    (small by construction: near-dup pairs at J ≥ ``JACCARD_T``):
    four registered queries read it (this one, curation_pipeline's
    drop list, dedup_eval_lsh's LSH side and the neardup cluster
    family's edge input). Planted corpora go through the
    DataFrame-level paths and never touch the memo."""
    def build() -> DataFrame:
        sh = _persisted_shingles(spark, sf_dir)
        _, cand = _minhash_sig_candidates(sh)
        # exact-Jaccard verification restricted to CANDIDATES (never
        # the full shingle self-join — hot shingles make that
        # quadratic)
        return _verify_pairs(sh, cand).localCheckpoint(eager=True)
    return session_memo(spark, "result", ("minhash_pairs", sf_dir), build)


def _minhash_sig_candidates(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """MinHash signatures + LSH band-collision candidate pairs from a
    shingle index — the shared core of ``minhash_lsh_pairs`` and the
    estimator audit ``dedup_minhash_jaccard_est``.

    Signatures via the 2-hash affine family h_p = (h1 + p*h2) mod 2^48
    (Broder-style universal perms): h1/h2 are DISJOINT 48-bit slices
    of ONE md5 digest (chars 1-12 / 13-24 of the 32-hex digest) — one
    digest per shingle instead of N_PERM (or the round-1 two), with
    the same independence for banding purposes (recall floor pinned
    by the LSH recall test). 48-bit bases keep h1 + 15*h2 < 2^52,
    exact in int64 on any engine."""
    M48 = 1 << 48
    digest = F.md5(F.col("s"))
    hashed = (sh.select(
                  "doc_id",
                  F.conv(F.substring(digest, 1, 12), 16, 10).cast("long")
                   .alias("h1"),
                  F.conv(F.substring(digest, 13, 12), 16, 10).cast("long")
                   .alias("h2"))
                .select("doc_id",
                        *[((F.col("h1") + p * F.col("h2")) % M48).alias(f"h{p}")
                          for p in range(N_PERM)]))
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{p}").alias(f"m{p}") for p in range(N_PERM)])

    # banding: band key = comma-joined signature slice
    r = N_PERM // N_BANDS
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(",", *[F.col(f"m{b * r + i}").cast("string")
                                   for i in range(r)]).alias("key"))
            for b in range(N_BANDS)])).alias("bk"))
    bands = bands.select("doc_id", "bk.band", "bk.key")

    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    return sig, cand


def _verify_pairs(sh: DataFrame, cand: DataFrame,
                  t_num: int = 3, t_den: int = 10) -> DataFrame:
    """Exact-Jaccard verification of ``(doc_a, doc_b)`` candidate
    pairs against the shingle index: explode each pair by doc_a's
    shingles, probe doc_b's — work is Σ|shingles(doc_a)| over
    candidates, never the full self-join. Shared by the MinHash-LSH
    and PPJoin candidate generators.

    The threshold test is integral — ``c/(na+nb-c) ≥ t_num/t_den ⟺
    (t_num+t_den)·c ≥ t_num·(na+nb)`` — equivalent to the float
    filter for every reachable ratio (|c/u − t| ≥ 1/(t_den·u) ≫ one
    double ulp) but immune to boundary-rounding by construction."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sha = sh.withColumnsRenamed({"doc_id": "doc_a"})
    shb = sh.withColumnsRenamed({"doc_id": "doc_b"})
    common = (cand.join(sha, "doc_a")
                  .join(shb, ["doc_b", "s"])
                  .groupBy("doc_a", "doc_b")
                  .agg(F.count("*").alias("c")))
    return (common
               .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
               .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
               .filter(F.lit(t_num + t_den) * F.col("c")
                       >= F.lit(t_num) * (F.col("na") + F.col("nb")))
               .withColumn("jaccard",
                           F.col("c").cast("double")
                           / (F.col("na") + F.col("nb") - F.col("c")))
               .select("doc_a", "doc_b", "jaccard"))


def _oracle_shingles_cte() -> str:
    return f"""
toks AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') t FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+{SHINGLE_W - 1}], ' ') AS s
       FROM toks, UNNEST(range(1, len(t) - {SHINGLE_W - 2})) AS u(i)
       WHERE len(t) >= {SHINGLE_W})
"""


MINHASH_LSH_ORACLE = f"""
WITH {_oracle_shingles_cte()},
hb AS (SELECT doc_id,
              CAST('0x' || substr(md5(s), 1, 12) AS BIGINT) AS h1,
              CAST('0x' || substr(md5(s), 13, 12) AS BIGINT) AS h2
       FROM sh),
hp AS (SELECT doc_id, p, MIN((h1 + p * h2) % 281474976710656) AS m
       FROM hb, UNNEST(range(0, {N_PERM})) AS t(p)
       GROUP BY doc_id, p),
bands AS (SELECT doc_id, p // {N_PERM // N_BANDS} AS band,
                 string_agg(m::VARCHAR, ',' ORDER BY p) AS key
          FROM hp GROUP BY doc_id, p // {N_PERM // N_BANDS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
           FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
SELECT doc_a, doc_b, c * 1.0 / (sa.n + sb.n - c) AS jaccard
FROM cand
JOIN common USING (doc_a, doc_b)
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_T}
"""


# --- n-gram Jaccard (exhaustive inverted-index form) -----------------------

DF_CAP = 64  # max docs sharing a shingle before it's dropped from the index


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str,
                        df_cap: int | None = DF_CAP) -> DataFrame:
    """Near-dup pairs at ``JACCARD_T`` via the shingle inverted index.

    A shingle shared by k docs contributes k² candidate rows to the
    self-join, so one boilerplate phrase ("all rights reserved …")
    repeated across 1M docs is a 10¹²-row blowup. ``df_cap`` drops
    shingles with document frequency > cap from the index BEFORE the
    join (an anti-join against the heavy-hitter set, which is small
    by construction: ≤ |index|/cap shingles). This bounds join fanout
    at cap² per shingle. Semantics: Jaccard is computed over the
    capped shingle universe — pairs whose overlap is ONLY boilerplate
    no longer surface (that is the point: boilerplate overlap is not
    near-duplication), and both |A|, |B| shrink consistently. The
    oracle applies the identical cap. ``df_cap=None`` is the
    exhaustive form, kept as ground truth for the LSH recall tests —
    never use it on a corpus with unbounded hot shingles.

    The pair table is a ``result`` session memo per (sf_dir, cap),
    small by construction (near-dup pairs at J >= 0.3 over the
    df-capped index): this query is registered on its own AND is the
    truth side ``dedup_eval_lsh`` re-ran per call (the r8 bench
    regression, VERDICT r8 item 4). A planted corpus goes through
    ``jaccard_pairs_from_docs`` and never touches the memo."""
    return session_memo(
        spark, "result", ("jaccard_pairs", sf_dir, df_cap),
        lambda: _jaccard_from_shingles(
            _persisted_shingles(spark, sf_dir),
            df_cap).localCheckpoint(eager=True))


def jaccard_pairs_from_docs(docs: DataFrame,
                            df_cap: int | None = DF_CAP) -> DataFrame:
    """DataFrame-level core of ``ngram_jaccard_pairs`` for ad-hoc
    corpora (tests, worst-case fixtures). Persists its own one-shot
    shingle table; fixture-table callers go through
    ``ngram_jaccard_pairs`` which reuses the shared session index."""
    return _jaccard_from_shingles(_shingle_table_from_docs(docs).persist(),
                                  df_cap)


def _jaccard_from_shingles(raw: DataFrame,
                           df_cap: int | None = DF_CAP) -> DataFrame:
    """Inverted-index Jaccard over a (persisted) shingle table (see
    ``ngram_jaccard_pairs`` for the df-cap semantics). The capped
    index is NOT re-persisted: each branch replays a cheap anti-join
    against the small hot set from the cached raw index instead of
    stacking a second near-identical cache entry."""
    if df_cap is not None:
        # (doc_id, s) is distinct by construction, so count(*) == df
        hot = (raw.groupBy("s").agg(F.count("*").alias("df"))
                  .filter(F.col("df") > df_cap).select("s"))
        sh = raw.join(hot, "s", "left_anti")
    else:
        sh = raw
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (sh.alias("x").join(sh.alias("y"),
                                 (F.col("x.s") == F.col("y.s"))
                                 & (F.col("x.doc_id") < F.col("y.doc_id")))
                .groupBy(F.col("x.doc_id").alias("doc_a"),
                         F.col("y.doc_id").alias("doc_b"))
                .agg(F.count("*").alias("c")))
    return (common
            .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
            .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
            .withColumn("jaccard",
                        F.col("c").cast("double")
                        / (F.col("na") + F.col("nb") - F.col("c")))
            .filter(F.col("jaccard") >= JACCARD_T)
            .select("doc_a", "doc_b", "jaccard"))


NGRAM_JACCARD_ORACLE = f"""
WITH {_oracle_shingles_cte().replace('sh AS (', 'sh0 AS (')},
hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {DF_CAP}),
sh AS (SELECT doc_id, s FROM sh0 ANTI JOIN hot USING (s)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
           FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
           GROUP BY 1, 2)
SELECT doc_a, doc_b, c * 1.0 / (sa.n + sb.n - c) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_T}
"""


# --- PPJoin-style prefix-filtered exact Jaccard ----------------------------

# PPJoin runs at the standard LLM-dedup threshold t = 0.8 (Lee et al.
# / RefinedWeb use 0.8 for document near-dup removal), NOT the 0.3
# candidate-verification floor the LSH path shares: prefix filtering's
# pruning power is 1 - t of each doc (t=0.8 → 20% prefixes; t=0.3
# would index 70% of every doc and degenerate toward the exhaustive
# join). t is a ratio of small ints so every bound below is integral.
PPJOIN_T_NUM = 4
PPJOIN_T_DEN = 5


def ppjoin_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs at J ≥ 4/5 via prefix filtering
    (All-Pairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): the LOSSLESS scale path for set-similarity join, where
    the df-capped inverted index (``ngram_jaccard_pairs``) changes
    semantics on boilerplate and the plain inverted-index join blows
    up on hot shingles.

    Order each doc's shingles rarest-first (global (df, s) order) and
    index only the PREFIX of length ``n - ⌈t·n⌉ + 1`` (≈20% of the
    doc at t=0.8): any pair with J ≥ t has overlap ≥ ⌈t·n⌉ on both
    sides, so it must collide within both prefixes — candidates from
    a prefix-prefix join are complete. A corpus-hot boilerplate
    shingle has maximal df, so it lands in a doc's prefix only when
    the doc has almost nothing rarer — the k² blowup per hot shingle
    disappears without dropping any true pair. A length filter
    (``5·min(n) ≥ 4·max(n)``, the integer form of ``min ≥ t·max``)
    prunes the rest; exact verification then recomputes Jaccard from
    the full index, so output correctness never rests on the filter
    algebra.

    All threshold arithmetic is integral (t = 4/5:
    ``⌈t·n⌉ = (4n + 4) div 5``) — no float boundary can disagree
    with the DuckDB oracle. Shapes at 100 TB: df-join + per-doc
    window (bounded by doc length), prefix-prefix join (fanout
    bounded by prefix df, see above), candidate-only verify — never
    all-pairs, no driver traffic."""
    return _ppjoin_from_shingles(_persisted_shingles(spark, sf_dir))


def _ppjoin_from_shingles(sh: DataFrame) -> DataFrame:
    """Core of :func:`ppjoin_jaccard_pairs` over any (doc_id, s)
    shingle table (see its docstring)."""
    tn, td = PPJOIN_T_NUM, PPJOIN_T_DEN
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    ordered = (sh.join(dfreq, "s")
                 .select("doc_id", "s",
                         F.row_number().over(
                             W.partitionBy("doc_id").orderBy("df", "s"))
                          .alias("pos"),
                         F.count("*").over(W.partitionBy("doc_id"))
                          .alias("n")))
    prefix = (ordered
              .where(F.col("pos") <= F.col("n")
                     - F.expr(f"({tn} * n + {tn}) div {td}") + 1)
              .select("doc_id", "s", "n"))
    cand = (prefix.alias("a").join(
                prefix.alias("b"),
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.lit(td) * F.least("a.n", "b.n")
                   >= F.lit(tn) * F.greatest("a.n", "b.n")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    return _verify_pairs(sh, cand, tn, td)


PPJOIN_ORACLE = f"""
WITH {_oracle_shingles_cte()},
dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
ordered AS (
  SELECT doc_id, s,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, s) AS pos,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM sh JOIN dfreq USING (s)
),
prefix AS (
  SELECT doc_id, s, n FROM ordered
  WHERE pos <= n - ({PPJOIN_T_NUM} * n + {PPJOIN_T_NUM}) // {PPJOIN_T_DEN} + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b
    ON a.s = b.s AND a.doc_id < b.doc_id
   AND {PPJOIN_T_DEN} * LEAST(a.n, b.n) >= {PPJOIN_T_NUM} * GREATEST(a.n, b.n)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT doc_a, doc_b, COUNT(*) AS c
  FROM cand
  JOIN sh x ON x.doc_id = doc_a
  JOIN sh y ON y.doc_id = doc_b AND y.s = x.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, c * 1.0 / (sa.n + sb.n - c) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE {PPJOIN_T_NUM + PPJOIN_T_DEN} * c >= {PPJOIN_T_NUM} * (sa.n + sb.n)
"""


# --- SimHash ---------------------------------------------------------------

def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc (per-bit weighted majority over token
    hashes, multiplicity-weighted), emitted as a bitstring. Linear:
    explode tokens×bits, two aggregations."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("tok"))
               .filter(F.col("tok") != ""))
    h = tok.select("doc_id", _md5int60(F.col("tok")).alias("hv"))
    bits = (h.select("doc_id", "hv",
                     F.explode(F.sequence(F.lit(0), F.lit(59))).alias("b"))
             .withColumn("contrib", F.expr("(shiftright(hv, b) & 1) * 2 - 1"))
             .groupBy("doc_id", "b")
             .agg(F.sum("contrib").alias("s")))
    return (bits.groupBy("doc_id")
                .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("b", "s"))),
                        lambda x: F.when(x["s"] >= 0, "1").otherwise("0")),
                    "").alias("simhash")))


SIMHASH_ORACLE = """
WITH tk AS (SELECT doc_id, UNNEST(regexp_split_to_array(text, '\\s+')) AS tok
            FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv
      FROM tk WHERE tok <> ''),
bx AS (SELECT doc_id, b, SUM(((hv >> b) & 1) * 2 - 1) AS s
       FROM h, UNNEST(range(0, 60)) AS t(b) GROUP BY doc_id, b)
SELECT doc_id,
       string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash
FROM bx GROUP BY doc_id
"""


# --- embedding cosine near-dup ---------------------------------------------

def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-block cosine near-dup: ``label`` is the blocking key
    (at scale: an IVF/LSH cell id), so pair formation is per-block,
    never all-pairs across the corpus."""
    from mapreduce_rust_spark.functions.vector import cosine, to_double
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("e"))
    a, b = emb.alias("a"), emb.alias("b")
    return (a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
             .withColumn("sim", cosine(F.col("a.e"), F.col("b.e")))
             .filter(F.col("sim") >= 0.35)
             .select(F.col("a.vec_id").alias("vec_a"),
                     F.col("b.vec_id").alias("vec_b")))


EMBEDDING_NEARDUP_ORACLE = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
"""


WINNOW_K = 3        # k-gram width (tokens) — matches SHINGLE_W
WINNOW_W = 4        # winnowing window over the k-gram hash sequence
WINNOW_MIN_SHARED = 2


def winnow_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint near-dup pairs (Schleimer–Wilkerson–Aiken
    "winnowing", the MOSS algorithm): hash every POSITIONAL k-gram,
    slide a w-window over the hash sequence, keep each window's
    minimum — the selected hashes are the doc's fingerprints, with
    the winnowing guarantee that any shared run of ≥ w+k−1 tokens
    shares ≥ 1 fingerprint. Docs sharing ≥ ``WINNOW_MIN_SHARED``
    fingerprints pair up. vs MinHash: winnowing is POSITION-aware
    (it finds shared passages, not whole-doc similarity) and
    deterministic per content; vs dup_span's inverted index it
    stores ~1/w of the positions.

    Positional k-grams (not the DISTINCT shingle set — selection
    depends on sequence order) generate IN-ROW, as do the window
    minima: per-doc O(n·w) inside one codegen projection, zero
    shuffle until the fingerprint explode. The pair join is
    df-capped exactly like the n-gram index (a boilerplate
    fingerprint shared by >DF_CAP docs leaves the index), and runs
    on exact-dedup representatives (the containment_pairs pipeline
    ordering).

    Gram hashing is the packed-lane scheme the trigram kernel proved
    out (round 7): ONE md5 per token (not one per gram over a built
    k-token string), keep a 20-bit lane, and pack the k=3 lanes into
    a 60-bit long with overflow-free multiplies — identical integers
    on both engines, and the per-gram string building + md5 that
    dominated the old profile (≈2× the remaining work) disappears.
    20-bit token lanes make token-fingerprint collisions possible
    (~vocab²/2²¹), but a collision only merges two tokens
    consistently in BOTH engines and in every gram, preserving the
    winnowing guarantee (shared passages still share fingerprints)."""
    docs = load_table(spark, sf_dir, "documents")
    reps = (docs.groupBy(F.sha2(F.col("text"), 256).alias("h"))
                .agg(F.min("doc_id").alias("doc_id")))
    d = (docs.join(reps, "doc_id", "semi")
             .select("doc_id",
                     whitespace_tokens("text").alias("toks")))
    n = F.size("toks")
    k, w = WINNOW_K, WINNOW_W
    assert k == 3, "packed-lane gram hash below is written for k=3"
    th = F.transform(
        F.col("toks"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 5), 16, 10).cast("long"))
    grams = F.transform(
        F.sequence(F.lit(1), n - k + 1),
        lambda i: (F.element_at(F.col("th"), i) * F.lit(1 << 40)
                   + F.element_at(F.col("th"), i + 1) * F.lit(1 << 20)
                   + F.element_at(F.col("th"), i + 2)))
    hs = (d.filter(n >= k)
           .withColumn("th", th)
           .select("doc_id", grams.alias("hs")))
    m = F.size("hs")
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(m - w + 1, F.lit(1))),
        lambda j: F.array_min(F.slice(F.col("hs"), j, w)))
    fps = (hs.select("doc_id",
                     F.explode(F.array_distinct(mins)).alias("fp")))
    # df-cap as ONE window over the fp partitioning (not groupBy+anti,
    # which shuffled fps twice): the filter runs in place, and the
    # self-join below joins on fp so both sides REUSE the window's
    # hash partitioning — the whole cap+join pipeline is one exchange
    # of the fingerprint table.
    wdf = W.partitionBy("fp")
    idx = (fps.withColumn("df", F.count("*").over(wdf))
              .filter(F.col("df") <= DF_CAP).drop("df"))
    a, b = idx.alias("a"), idx.alias("b")
    return (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_shared"))
             .filter(F.col("n_shared") >= WINNOW_MIN_SHARED))


WINNOW_ORACLE = f"""
WITH reps AS (SELECT MIN(doc_id) AS doc_id FROM documents
              GROUP BY sha256(text)),
d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents SEMI JOIN reps USING (doc_id)
),
th AS (
  SELECT doc_id,
         list_transform(toks,
           t -> CAST('0x' || substr(md5(t), 1, 5) AS BIGINT)) AS th
  FROM d WHERE len(toks) >= {WINNOW_K}
),
hs AS (
  SELECT doc_id,
         list_transform(
           range(1, len(th) - {WINNOW_K} + 2),
           i -> th[i] * {1 << 40} + th[i + 1] * {1 << 20} + th[i + 2])
           AS hs
  FROM th
),
fps AS (
  SELECT DISTINCT doc_id, fp
  FROM hs, UNNEST(list_distinct(list_transform(
         range(1, GREATEST(len(hs) - {WINNOW_W} + 1, 1) + 1),
         j -> list_min(hs[j:j+{WINNOW_W - 1}])))) AS t(fp)
),
hot AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > {DF_CAP}),
idx AS (SELECT * FROM fps ANTI JOIN hot USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""


def dedup_eval_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline EVALUATION as an operator: precision / recall / F1 of
    the MinHash-LSH dedup path (``minhash_lsh_pairs``) against the
    df-capped exhaustive inverted-index join (``ngram_jaccard_pairs``)
    over the same J ≥ 0.3 target — the measurement a production dedup
    rollout runs before swapping the exact join for the sketch path
    (is the banding's recall acceptable on OUR corpus?). Both sides
    exact-verify candidates, so deviations are pure candidate-
    generation differences: band non-collisions (LSH misses) and
    df-cap drops (truth-side misses).

    Composition, not reimplementation: the operator calls the two
    registered queries and reduces their full-outer pair join to one
    confusion row; the oracle nests the two registered ORACLES as
    CTEs the same way — the checked artifact proves the composed
    pipeline, not just the parts. All metrics are exact-int ratios
    (F1 = 2tp/(2tp+fp+fn): single int÷int division, no float chain
    of precision·recall)."""
    pred = (minhash_lsh_pairs(spark, sf_dir)
            .select("doc_a", "doc_b", F.lit(1).alias("p")))
    truth = (ngram_jaccard_pairs(spark, sf_dir)
             .select("doc_a", "doc_b", F.lit(1).alias("t")))
    j = pred.join(truth, ["doc_a", "doc_b"], "full_outer")
    agg = j.agg(
        F.sum(F.when(F.col("p").isNotNull()
                     & F.col("t").isNotNull(), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("p").isNotNull()
                     & F.col("t").isNull(), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("p").isNull()
                     & F.col("t").isNotNull(), 1).otherwise(0)).alias("fn"))
    return agg.select(
        "tp", "fp", "fn",
        (F.col("tp").cast("double")
         / (F.col("tp") + F.col("fp")).cast("double")).alias("precision"),
        (F.col("tp").cast("double")
         / (F.col("tp") + F.col("fn")).cast("double")).alias("recall"),
        ((2 * F.col("tp")).cast("double")
         / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"))
        .alias("f1"))


def _dedup_eval_oracle() -> str:
    return f"""
WITH pred AS ({MINHASH_LSH_ORACLE}),
truth AS ({NGRAM_JACCARD_ORACLE}),
j AS (
  SELECT p.doc_a AS pa, t.doc_a AS ta
  FROM pred p FULL OUTER JOIN truth t
    ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
),
c AS (
  SELECT CAST(SUM(CASE WHEN pa IS NOT NULL AND ta IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pa IS NOT NULL AND ta IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN pa IS NULL AND ta IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM j
)
SELECT tp, fp, fn,
       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
       CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
       CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
FROM c
"""


CONTAIN_T_NUM = 9    # containment threshold 9/10
CONTAIN_T_DEN = 10


def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC set-containment join: directed pairs where ≥ 9/10
    of the inner doc's shingles also occur in the outer doc —
    quote/excerpt/mirror detection, the case symmetric Jaccard
    misses by construction (a paragraph quoted inside a book has
    tiny Jaccard but containment ≈ 1).

    Prefix filtering adapts to the asymmetry: only the INNER side
    can be prefix-pruned (the required overlap ⌈t·|A|⌉ depends on A
    alone), so candidates come from A-prefixes (rarest ~10% + 1 of
    each doc) probing the FULL shingle index, with the integral
    length filter t_den·|B| ≥ t_num·|A| (B must be able to hold the
    required overlap). Completeness: overlap ≥ ⌈t·|A|⌉ forces a
    collision within A's prefix — lossless, like PPJoin. Fanout per
    prefix shingle is its full df (no B-side prefix exists) — the
    honest cost of the asymmetric variant; rarest-first ordering
    keeps prefix shingles low-df except for boilerplate-only docs.
    Verification recomputes the exact overlap; the threshold test is
    integral (t_den·c ≥ t_num·|A|), containment = c/|A| exact-int
    division.

    PIPELINE ORDERING: exact duplicates are collapsed FIRST (one
    representative per content hash, the exact_dedup_docs rule —
    min doc_id). Containment is a NEAR-containment pass; on a
    duplicate-heavy crawl every copy pair is containment 1.0 in both
    directions, so without the collapse both candidate AND output
    volume grow quadratically in the copy count (measured: the ×20
    replicated corpus runs >10 min un-collapsed vs seconds
    collapsed) — the same run-exact-dedup-first ordering
    curation_pipeline encodes."""
    sh_all = _persisted_shingles(spark, sf_dir)
    reps = (load_table(spark, sf_dir, "documents")
            .groupBy(F.sha2(F.col("text"), 256).alias("h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    sh = sh_all.join(reps, "doc_id", "semi")
    tn, td = CONTAIN_T_NUM, CONTAIN_T_DEN
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    ordered = (sh.join(dfreq, "s")
                 .select("doc_id", "s",
                         F.row_number().over(
                             W.partitionBy("doc_id").orderBy("df", "s"))
                          .alias("pos"),
                         F.count("*").over(W.partitionBy("doc_id"))
                          .alias("n")))
    prefix = (ordered
              .where(F.col("pos") <= F.col("n")
                     - F.expr(f"({tn} * n + {tn}) div {td}") + 1)
              .select(F.col("doc_id").alias("doc_inner"), "s",
                      F.col("n").alias("na")))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("nb"))
    full = (sh.withColumnsRenamed({"doc_id": "doc_outer"})
              .join(sizes.withColumnsRenamed({"doc_id": "doc_outer"}),
                    "doc_outer"))
    cand = (prefix.join(full, "s")
            .filter((F.col("doc_inner") != F.col("doc_outer"))
                    & (F.lit(td) * F.col("nb") >= F.lit(tn) * F.col("na")))
            .select("doc_inner", "doc_outer", "na").distinct())
    sha = sh.withColumnsRenamed({"doc_id": "doc_inner"})
    shb = sh.withColumnsRenamed({"doc_id": "doc_outer"})
    common = (cand.join(sha, "doc_inner")
                  .join(shb, ["doc_outer", "s"])
                  .groupBy("doc_inner", "doc_outer", "na")
                  .agg(F.count("*").alias("c")))
    return (common
            .filter(F.lit(td) * F.col("c") >= F.lit(tn) * F.col("na"))
            .select("doc_inner", "doc_outer",
                    (F.col("c").cast("double") / F.col("na"))
                    .alias("containment")))


def _containment_oracle() -> str:
    tn, td = CONTAIN_T_NUM, CONTAIN_T_DEN
    return f"""
WITH {_oracle_shingles_cte().replace('sh AS (', 'sh_all AS (')},
reps AS (SELECT MIN(doc_id) AS doc_id FROM documents
         GROUP BY sha256(text)),
sh AS (SELECT s.* FROM sh_all s SEMI JOIN reps USING (doc_id)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
-- oracle takes the exhaustive pair route on purpose: the prefix
-- filter's losslessness is part of what the hash check proves
SELECT doc_inner, doc_outer,
       CAST(c AS DOUBLE) / sa.n AS containment
FROM common
JOIN sizes sa ON sa.doc_id = doc_inner
WHERE {td} * c >= {tn} * sa.n
"""


CONTAINMENT_ORACLE = _containment_oracle()


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup KEEP LIST: within each label
    block (at scale: a k-means/IVF cluster id — the SemDeDup recipe),
    a vector is dropped iff a LOWER-id vector in the same block sits
    within cosine ≥ 0.35 of it; survivors are the canonical
    representatives. The deterministic keep-lowest-id rule turns the
    pair view (``embedding_neardup_pairs``) into an actual
    deduplicated corpus — the step that feeds training.

    Plan: the SAME block-local pair join as the pair op, folded to a
    per-block report in ONE aggregation pass — no new shuffle shape,
    and pair volume stays Σ|block|², never corpus². The duplicate set
    comes back as a LEFT join + flag (not an anti join + a second
    count-all aggregate: kept/total/first-kept are conditional
    aggregates of the SAME flagged frame, one groupBy instead of
    two aggs and a re-join). The
    pair-side input is materialized once; block sizes are the knob
    that bounds the quadratic term (re-cluster finer when a block
    outgrows its budget).

    Pair similarity is ONE dot fold over pre-unit-normalized vectors
    (the allknn convention — cosine() would re-fold both norms on
    the |block|² hot path; both changes together measured
    5.9 → 3.6 s at sf0.1). The threshold test
    dot(unit(a), unit(b)) ≥ τ is mathematically cosine ≥ τ; as with
    every cosine op here, the cross-engine float path differs in
    final ulps, so a pair landing WITHIN ulp of τ could flip vs the
    oracle — a near-tie, not a logic bug (the knn_bruteforce
    doctrine; measured fixture margin to τ is ~5e-4, ≫ ulp scale)."""
    from mapreduce_rust_spark.functions.vector import dot, to_double, unit
    emb = (load_table(spark, sf_dir, "embeddings")
           .select("vec_id", "label",
                   unit(to_double(F.col("embedding"))).alias("e"))
           .localCheckpoint(eager=True))   # pair join reads it twice
    a, b = emb.alias("a"), emb.alias("b")
    dupes = (a.join(b, (F.col("a.label") == F.col("b.label"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
              .filter(dot(F.col("a.e"), F.col("b.e")) >= 0.35)
              .select(F.col("b.vec_id").alias("vec_id")).distinct()
              .withColumn("is_dup", F.lit(1)))
    flagged = (emb.select("vec_id", "label")
               .join(dupes, "vec_id", "left")
               .withColumn("keep", F.col("is_dup").isNull()))
    return (flagged.groupBy("label")
            .agg(F.count("*").alias("n_vecs"),
                 F.sum(F.when(F.col("keep"), 1).otherwise(0))
                  .alias("n_kept"),
                 F.min(F.when(F.col("keep"), F.col("vec_id")))
                  .alias("first_kept")))


SEMANTIC_DEDUP_ORACLE = """
WITH dupes AS (
  SELECT DISTINCT b.vec_id
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]) >= 0.35
),
kept AS (
  SELECT e.label, e.vec_id FROM embeddings e
  WHERE e.vec_id NOT IN (SELECT vec_id FROM dupes)
)
SELECT k.label,
       (SELECT COUNT(*) FROM embeddings e2 WHERE e2.label = k.label)
         AS n_vecs,
       COUNT(*) AS n_kept,
       MIN(k.vec_id) AS first_kept
FROM kept k GROUP BY k.label
"""


# --- segment-level dedup (CCNet/C4-style boilerplate removal) --------------

SEG_TOKENS = 16  # segment width — the "line"/"paragraph" unit


def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: split each doc into fixed ``SEG_TOKENS``
    segments (the fixture's stand-in for lines/paragraphs), drop every
    segment whose exact content occurs in MORE THAN ONE doc, and
    reassemble the survivors in order — the CCNet/C4 preprocessing
    step that strips shared boilerplate (headers, nav, license text)
    while keeping the unique body.

    Scale shape: segments shuffle once for the doc-frequency count
    (map-side combined) and once for the order-preserving regroup —
    both keyed on bounded units (segment hash / doc id). A hot
    boilerplate segment costs ONE df row, never a pair blowup; the
    rebuild window is per-doc (bounded by doc length). Output keeps
    per-doc accounting so the drop rate is observable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("toks"))
    n_seg = F.ceil(F.size("toks") / SEG_TOKENS).cast("int")
    segs = toks.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(
                F.slice(F.col("toks"), i * SEG_TOKENS + 1, SEG_TOKENS),
                " "))).alias("seg_id", "seg"))
    seg_df = (segs.groupBy("seg")
                  .agg(F.countDistinct("doc_id").alias("df")))
    kept = (segs.join(seg_df, "seg")
                .filter(F.col("df") == 1))
    rebuilt = (kept.groupBy("doc_id")
                   .agg(F.array_join(
                       F.transform(
                           F.array_sort(
                               F.collect_list(F.struct("seg_id", "seg"))),
                           lambda x: x["seg"]), " ").alias("clean_text"),
                        F.count("*").alias("n_kept")))
    totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_segs"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id", "n_segs",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    (F.col("n_segs") - F.coalesce("n_kept", F.lit(0)))
                    .alias("n_dropped"),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))


SEGMENT_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents
),
segs AS (
  SELECT doc_id, i AS seg_id,
         array_to_string(t[i*{SEG_TOKENS}+1 : (i+1)*{SEG_TOKENS}], ' ') AS seg
  FROM toks,
       UNNEST(range(0, CAST(CEIL(len(t) / {SEG_TOKENS}.0) AS BIGINT))) AS u(i)
),
seg_df AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg),
kept AS (SELECT s.* FROM segs s JOIN seg_df USING (seg) WHERE df = 1),
rebuilt AS (
  SELECT doc_id,
         string_agg(seg, ' ' ORDER BY seg_id) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id)
SELECT t.doc_id, t.n_segs,
       COALESCE(r.n_kept, 0) AS n_kept,
       t.n_segs - COALESCE(r.n_kept, 0) AS n_dropped,
       COALESCE(r.clean_text, '') AS clean_text
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


PRIOR_SOURCES = tuple(f"src{i}" for i in range(10))  # already-ingested crawls


def bloom_crawl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: classify every document of the NEW
    batch (sources outside ``PRIOR_SOURCES``) as duplicate-of-prior
    or novel, by normalized fingerprint — the dedupe-against-all-
    previous-crawls step an ingestion pipeline runs on every batch.

    The scale problem this solves: the prior corpus is ~everything
    ever crawled, the new batch is comparatively tiny, and a plain
    semi-join shuffles BOTH. Here the prior side reduces to a bloom
    bitmap (constant 16 KiB however large the prior corpus is —
    `operators/bloom.py`); the new batch tests against the plan-
    literal bitmap in-scan, and only bitmap HITS (true dups + ~0.1%
    false positives) enter the exact verify semi-join. Docs that miss
    the bloom are definitively novel — no join touches them — so
    verify-join volume tracks the true duplicate rate, not batch
    size. Exactness is the bloom.py argument: no false negatives +
    exact verify ⇒ the oracle is the plain IN-subquery."""
    from mapreduce_rust_spark.functions.text import fingerprint
    from mapreduce_rust_spark.operators.bloom import (
        bloom_prefilter, build_bitmap)
    docs = load_table(spark, sf_dir, "documents")
    # materialize fingerprints ONCE: four plan branches read them (the
    # bitmap-build action, the bloom probe, the verify semi-join, and
    # the output join), and the fingerprint is three regex passes over
    # the full text — recomputing it per branch dominated the ×20
    # measurement (13.4 s → 4.5 s, SCALE.md). A production pipeline
    # stores fingerprints as a column for the same reason.
    fp = docs.select("doc_id", "source",
                     fingerprint(F.col("text")).alias("fp")) \
             .localCheckpoint(eager=True)
    prior = fp.filter(F.col("source").isin(*PRIOR_SOURCES))
    new = fp.filter(~F.col("source").isin(*PRIOR_SOURCES))
    bitmap = build_bitmap(prior.select("fp"), "fp")
    hits = bloom_prefilter(new, "fp", bitmap)
    dups = (hits.join(prior.select("fp").distinct(), "fp", "left_semi")
                .select("doc_id", F.lit(True).alias("is_dup")))
    return (new.select("doc_id", "source")
               .join(dups, "doc_id", "left")
               .select("doc_id", "source",
                       F.coalesce("is_dup", F.lit(False)).alias("is_dup")))


_PRIOR_SQL = ", ".join(f"'{s}'" for s in PRIOR_SOURCES)

BLOOM_CRAWL_DEDUP_ORACLE = f"""
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                                 '\\s+', ' ', 'g'))) AS fp
  FROM documents
)
SELECT n.doc_id, n.source,
       n.fp IN (SELECT fp FROM fp WHERE source IN ({_PRIOR_SQL}))
         AS is_dup
FROM fp n WHERE n.source NOT IN ({_PRIOR_SQL})
"""


def dedup_multiplicity_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: for each exact-duplicate
    multiplicity k, how many content clusters have exactly k copies,
    how many documents they hold, and how many are excess — the
    one-page dedup report that sizes the win BEFORE running a
    near-dup pass (a corpus whose mass sits at k = 1 doesn't need
    one) and exposes crawler pathologies (a fat k = 1000 bucket is a
    replay bug, not natural duplication).

    Scale: the exact-dedup digest aggregate (one shuffle on
    sha256(text), bytes never shuffle) followed by a count-of-counts
    aggregate over CLUSTER rows — the classic two-level
    count-distinct shape; output is ≤ max-multiplicity rows.

    Output: ``(n_copies, n_clusters, n_docs, n_excess)``.
    """
    docs = load_table(spark, sf_dir, "documents")
    clusters = (docs.groupBy(F.sha2(F.col("text"), 256).alias("sha"))
                .agg(F.count("*").alias("n_copies")))
    return (clusters.groupBy("n_copies")
            .agg(F.count("*").cast("long").alias("n_clusters"))
            .select("n_copies", "n_clusters",
                    (F.col("n_copies") * F.col("n_clusters"))
                    .cast("long").alias("n_docs"),
                    ((F.col("n_copies") - 1) * F.col("n_clusters"))
                    .cast("long").alias("n_excess")))


DEDUP_MULTIPLICITY_ORACLE = """
WITH clusters AS (
  SELECT sha256(text) AS sha, CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM documents GROUP BY sha256(text)
)
SELECT n_copies, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(n_copies * COUNT(*) AS BIGINT) AS n_docs,
       CAST((n_copies - 1) * COUNT(*) AS BIGINT) AS n_excess
FROM clusters GROUP BY n_copies
"""


REGISTRATIONS = [
    ("exact_dedup_docs", exact_dedup_docs, EXACT_DEDUP_ORACLE),
    ("dedup_multiplicity_hist", dedup_multiplicity_hist,
     DEDUP_MULTIPLICITY_ORACLE),
    ("bloom_crawl_dedup", bloom_crawl_dedup, BLOOM_CRAWL_DEDUP_ORACLE),
    ("segment_dedup_docs", segment_dedup_docs, SEGMENT_DEDUP_ORACLE),
    ("minhash_lsh_pairs", minhash_lsh_pairs, MINHASH_LSH_ORACLE),
    ("ngram_jaccard_pairs", ngram_jaccard_pairs, NGRAM_JACCARD_ORACLE),
    ("ppjoin_jaccard_pairs", ppjoin_jaccard_pairs, PPJOIN_ORACLE),
    ("containment_pairs_docs", containment_pairs_docs, CONTAINMENT_ORACLE),
    ("winnow_pairs_docs", winnow_pairs_docs, WINNOW_ORACLE),
    # oracle composed from the two component oracles (see docstring)
    ("dedup_eval_lsh", dedup_eval_lsh, _dedup_eval_oracle()),
    ("simhash_docs", simhash_docs, SIMHASH_ORACLE),
    ("embedding_neardup_pairs", embedding_neardup_pairs, EMBEDDING_NEARDUP_ORACLE),
    ("semantic_dedup_embeddings", semantic_dedup_embeddings,
     SEMANTIC_DEDUP_ORACLE),
]


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the contamination readout a
    corpus curator runs before mixing sources: for every unordered
    source pair, how many near-dup document pairs (MinHash-LSH,
    J ≥ 0.3) straddle it. A heavy off-diagonal cell means one source
    republishes another (mirror sites, syndication) and the mixture
    weights double-count; a heavy diagonal cell means within-source
    boilerplate. Composition, not reimplementation: the operator calls
    the registered ``minhash_lsh_pairs`` and reduces its output with
    two dimension joins; the oracle nests the registered MinHash
    oracle verbatim as a CTE.

    Scale: the pair list is candidate-bound (the LSH property); the
    doc→source dimension join is on doc_id, and the final matrix is
    ≤ |sources|² rows.

    Output: ``(source_a, source_b, n_pairs)`` with source_a ≤
    source_b (unordered pairs canonicalized by name).
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = docs.select(F.col("doc_id").alias("doc_a"),
                     F.col("source").alias("sa"))
    sb = docs.select(F.col("doc_id").alias("doc_b"),
                     F.col("source").alias("sb"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .groupBy(F.least("sa", "sb").alias("source_a"),
                     F.greatest("sa", "sb").alias("source_b"))
            .agg(F.count("*").cast("long").alias("n_pairs")))


CROSS_SOURCE_DUP_ORACLE = f"""
WITH mh AS ({MINHASH_LSH_ORACLE})
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM mh JOIN documents da ON mh.doc_a = da.doc_id
        JOIN documents db ON mh.doc_b = db.doc_id
GROUP BY 1, 2
"""


REGISTRATIONS.append(("cross_source_dup_matrix", cross_source_dup_matrix,
                      CROSS_SOURCE_DUP_ORACLE))


# --- MinHash estimator-quality audit (round 10) ---------------------------

EST_PPM = 1_000_000   # parts-per-million grid for the estimate readout


def dedup_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the MinHash near-dup pipeline: for
    every LSH CANDIDATE pair, the MinHash Jaccard ESTIMATE (fraction
    of the N_PERM signature positions that agree — the textbook
    unbiased estimator, E[agree/k] = J) side by side with the exact
    shingle Jaccard, both on the integer ppm grid. This is the
    tuning readout for banding parameters: a drifting |est − exact|
    distribution means N_PERM is too small (variance) or the hash
    family is misbehaving (bias) — at 100 TB you audit the estimator
    on a corpus sample before trusting the band thresholds.

    All integer: agreement count ∈ 0..N_PERM, est_ppm = agree·10⁶
    DIV N_PERM, exact_ppm = c·10⁶ DIV (na+nb−c) — truncating DIV on
    both engines, no float anywhere.

    Scale: candidates only (band-bucketed, never all-pairs);
    agreement is a 1-row-per-doc signature join (N_PERM columns);
    the exact side is the same Σ|shingles(doc_a)| probe as
    ``_verify_pairs``. Output: (doc_a, doc_b, sig_agree, est_ppm,
    exact_ppm, err_ppm), one row per candidate pair.
    """
    sh = _persisted_shingles(spark, sf_dir)
    sig, cand = _minhash_sig_candidates(sh)

    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"m{p}").alias(f"a{p}") for p in range(N_PERM)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"m{p}").alias(f"b{p}") for p in range(N_PERM)])
    agree = sum(F.when(F.col(f"a{p}") == F.col(f"b{p}"), 1).otherwise(0)
                for p in range(N_PERM)).cast("long")

    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sha = sh.withColumnsRenamed({"doc_id": "doc_a"})
    shb = sh.withColumnsRenamed({"doc_id": "doc_b"})
    common = (cand.join(sha, "doc_a")
                  .join(shb, ["doc_b", "s"])
                  .groupBy("doc_a", "doc_b")
                  .agg(F.count("*").alias("c")))
    out = (cand.join(sa, "doc_a").join(sb, "doc_b")
               .select("doc_a", "doc_b", agree.alias("sig_agree"))
               .join(common, ["doc_a", "doc_b"], "left")
               .withColumn("c", F.coalesce("c", F.lit(0)))
               .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}),
                     "doc_a")
               .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}),
                     "doc_b"))
    est = F.expr(f"sig_agree * {EST_PPM} DIV {N_PERM}")
    exact = F.expr(f"c * {EST_PPM} DIV (na + nb - c)")
    return (out.withColumn("est_ppm", est)
               .withColumn("exact_ppm", exact)
               .withColumn("err_ppm", F.abs(F.col("est_ppm")
                                            - F.col("exact_ppm")))
               .select("doc_a", "doc_b", "sig_agree", "est_ppm",
                       "exact_ppm", "err_ppm"))


MINHASH_EST_ORACLE = f"""
WITH {_oracle_shingles_cte()},
hb AS (SELECT doc_id,
              CAST('0x' || substr(md5(s), 1, 12) AS BIGINT) AS h1,
              CAST('0x' || substr(md5(s), 13, 12) AS BIGINT) AS h2
       FROM sh),
hp AS (SELECT doc_id, p, MIN((h1 + p * h2) % 281474976710656) AS m
       FROM hb, UNNEST(range(0, {N_PERM})) AS t(p)
       GROUP BY doc_id, p),
bands AS (SELECT doc_id, p // {N_PERM // N_BANDS} AS band,
                 string_agg(m::VARCHAR, ',' ORDER BY p) AS key
          FROM hp GROUP BY doc_id, p // {N_PERM // N_BANDS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
agree AS (SELECT c.doc_a, c.doc_b,
                 CAST(SUM(CASE WHEN x.m = y.m THEN 1 ELSE 0 END)
                      AS BIGINT) AS sig_agree
          FROM cand c
          JOIN hp x ON x.doc_id = c.doc_a
          JOIN hp y ON y.doc_id = c.doc_b AND y.p = x.p
          GROUP BY 1, 2),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS c
           FROM cand c
           JOIN sh x ON x.doc_id = c.doc_a
           JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
           GROUP BY 1, 2)
SELECT a.doc_a, a.doc_b, a.sig_agree,
       CAST(a.sig_agree * {EST_PPM} AS BIGINT) // {N_PERM} AS est_ppm,
       CAST(COALESCE(co.c, 0) * {EST_PPM} AS BIGINT)
         // (sa.n + sb.n - COALESCE(co.c, 0)) AS exact_ppm,
       ABS(CAST(a.sig_agree * {EST_PPM} AS BIGINT) // {N_PERM}
           - CAST(COALESCE(co.c, 0) * {EST_PPM} AS BIGINT)
             // (sa.n + sb.n - COALESCE(co.c, 0))) AS err_ppm
FROM agree a
LEFT JOIN common co ON a.doc_a = co.doc_a AND a.doc_b = co.doc_b
JOIN sizes sa ON a.doc_a = sa.doc_id
JOIN sizes sb ON a.doc_b = sb.doc_id
"""


REGISTRATIONS.append(("dedup_minhash_jaccard_est",
                      dedup_minhash_jaccard_est, MINHASH_EST_ORACLE))


# --- capture–recapture corpus-overlap estimate (round 10) -------------------


def capture_recapture_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture–recapture estimate of the shared-content
    universe for every source pair: treating two sources' distinct
    content digests as two "captures" from a common underlying
    population (the classic Lincoln–Petersen setup; Chapman 1951's
    bias-corrected form), N̂ = (n₁+1)(n₂+1)/(m+1) − 1 where m is the
    digest overlap. The crawl-planning readout: how much total
    content do two feeds jointly cover, and how much of a new feed
    is ALREADY captured — before paying to ingest it.

    Exactness: n₁, n₂, m are exact distinct-digest counts; the
    estimator is one truncating integer division (reported floor
    form; the +1s make m = 0 well-defined). Pure BIGINT.

    Scale: one digest aggregate (map-side combinable) to the
    (digest, source) distinct table; per-source counts and the pair
    overlap are dims-level aggregates over it; the pair table is
    sources² rows. Content bytes never shuffle — digests do.

    Output: ``(source_a, source_b, n_a, n_b, overlap, chapman_est)``,
    source_a < source_b.
    """
    docs = load_table(spark, sf_dir, "documents")
    ds = (docs.select("source", F.sha2("text", 256).alias("h"))
          .distinct()
          .localCheckpoint(eager=True))   # feeds counts AND the pair join
    n = ds.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = ds.select(F.col("source").alias("source_a"), "h")
    b = ds.select(F.col("source").alias("source_b"), "h")
    m = (a.join(b, "h")
         .where(F.col("source_a") < F.col("source_b"))
         .groupBy("source_a", "source_b")
         .agg(F.count("*").cast("long").alias("overlap")))
    pairs = (n.select(F.col("source").alias("source_a"),
                      F.col("n").alias("n_a"))
             .crossJoin(n.select(F.col("source").alias("source_b"),
                                 F.col("n").alias("n_b")))
             .where(F.col("source_a") < F.col("source_b")))
    return (pairs.join(m, ["source_a", "source_b"], "left")
            .withColumn("overlap", F.coalesce("overlap", F.lit(0)))
            .withColumn("chapman_est",
                        F.expr("(n_a + 1) * (n_b + 1) DIV (overlap + 1) - 1")
                        .cast("long"))
            .select("source_a", "source_b", "n_a", "n_b", "overlap",
                    "chapman_est"))


CAPTURE_RECAPTURE_ORACLE = """
WITH ds AS (
  SELECT DISTINCT source, sha256(text) AS h FROM documents
),
n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ds GROUP BY 1),
m AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS overlap
  FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT na.source AS source_a, nb.source AS source_b,
       na.n AS n_a, nb.n AS n_b,
       COALESCE(m.overlap, 0) AS overlap,
       CAST((na.n + 1) * (nb.n + 1) // (COALESCE(m.overlap, 0) + 1) - 1
            AS BIGINT) AS chapman_est
FROM n na JOIN n nb ON na.source < nb.source
LEFT JOIN m ON m.source_a = na.source AND m.source_b = nb.source
"""


REGISTRATIONS.append(("capture_recapture_sources",
                      capture_recapture_sources,
                      CAPTURE_RECAPTURE_ORACLE))
