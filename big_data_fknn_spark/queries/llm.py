"""SURVEY.md §2.J7-J12 + training-data-pipeline extensions.

The driver's north star adds the LLM-data-pipeline operator family
on top of the reference's classifier core: deduplication (exact,
MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity
search (brute-force + IVF scale path), text analysis (lang-ID,
quality score, token counts, fingerprinting), and multimodal column
plumbing.

Cross-engine determinism strategy (everything here hash-matches a
DuckDB oracle):

- All hashing is md5 hex strings — identical built-in in both
  engines.  MinHash needs only a total order on hash values, so the
  *lexicographic* min of md5 strings replaces integer minhashing; no
  64-bit parsing, no engine-specific hash().
- SimHash bits come from md5 hex digits via pure integer arithmetic
  (functions/text.py md5_bit).
- Jaccard/cosine divisions are int/int or identical left-fold
  doubles → bit-identical, then rounded to 6dp for output.

Scale notes are on each operator; the common theme: candidate
generation (LSH bands, IVF probes) shuffles on the *bucket key*, so
work is proportional to bucket collisions, never to |docs|².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_fknn_spark.functions.distance import cosine_sim, dot, l2_norm
from big_data_fknn_spark.functions.numeric import DEC
from big_data_fknn_spark.functions.text import md5_bit, shingles, tokens
from big_data_fknn_spark.operators.graph import connected_components
from big_data_fknn_spark.operators.knn import knn_join, knn_join_blas
from big_data_fknn_spark.operators.rank import global_rank
from big_data_fknn_spark.cache import cached
from big_data_fknn_spark.queries import register
from big_data_fknn_spark.tables import EMB_ADMIT_SQL, embeddings_d, t

# ---------------------------------------------------------------- shared

# DuckDB-side shared CTEs over documents (keep in sync with the
# Spark-side helpers in functions/text.py).
_DOC_CTES = """
docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh3 AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                        for i in generate_series(1, len(w) - 2)]) AS sh
  FROM docs)
"""


def _docs_with_shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    # Bind the token array to a column FIRST: expressions referencing
    # an unbound split() re-evaluate it per element_at access (no CSE
    # through lambda captures) — measured 12× slower at sf0.1.
    #
    # Two deliberate physical boundaries before the shingle transform:
    #
    # 1. Repartition by doc_id: testdata ships ONE small parquet file,
    #    so without it every core but one idles through the shingle
    #    build.  At scale the exchange is one narrow pass that
    #    pre-partitions on the key every downstream groupBy(doc_id)
    #    reuses.
    # 2. CACHE the token-array projection: CollapseProject otherwise
    #    inlines split(text) into every slice() the shingle lambda
    #    makes — re-tokenizing each doc once PER SHINGLE (measured 8 s
    #    → 0.7 s for the sf0.1 shingle table).  The cache is a plan-
    #    keyed singleton, so the n=3 and n=5 callers share one copy;
    #    at 100 TB this materialization is the persisted shingle/
    #    signature table the docstrings describe, not an in-memory
    #    cache.
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    w = cached(d.select("doc_id", tokens("text").alias("w")))
    return w.select("doc_id", shingles(F.col("w"), n).alias("sh"))


def _shingle_tokens(sh: DataFrame) -> DataFrame:
    """(doc_id, n, s): one row per shingle, each carrying its doc's
    shingle count ``n``.  Shingle arrays are distinct (functions/text.py
    ``shingles``), so ``size(sh)`` IS the per-doc row count — the
    Jaccard denominator rides the shingle join instead of a per-doc
    size table joined back onto every pair."""
    return sh.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s"))


def _exact_jaccard(tok: DataFrame, cand: DataFrame | None = None) -> DataFrame:
    """Exact shingle Jaccard ``(doc_i, doc_j, jac)``, inverted-index
    style: |A∩B| = shared-shingle count per pair, |A∪B| = n_i + n_j −
    |A∩B|, with both sizes carried through the join from
    :func:`_shingle_tokens` rows.  Without ``cand`` every doc_i < doc_j
    pair sharing ≥ 1 shingle is scored (work ~ Σ_shingle df²); with
    ``cand`` (doc_i < doc_j candidate pairs) only those are verified."""
    ti = tok.select(F.col("doc_id").alias("doc_i"), F.col("n").alias("n_i"), "s")
    tj = tok.select(F.col("doc_id").alias("doc_j"), F.col("n").alias("n_j"), "s")
    if cand is None:
        pairs = ti.join(tj, "s").where(F.col("doc_i") < F.col("doc_j"))
    else:
        pairs = cand.join(ti, "doc_i").join(tj, ["doc_j", "s"])
    inter = F.count(F.lit(1))
    return pairs.groupBy("doc_i", "doc_j", "n_i", "n_j").agg(
        (inter / (F.col("n_i") + F.col("n_j") - inter)).alias("jac")
    )


# ------------------------------------------------------------- J7. exact


@register(
    "j7_dedup_exact",
    oracle="""
SELECT doc_id, text_hash FROM (
  SELECT doc_id, md5(text) AS text_hash,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def j7_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash the content, keep the lowest doc_id per
    hash.  Scale: shuffles on the 16-byte digest (uniform keys — no
    skew), with WindowGroupLimit keeping one survivor per group below
    the exchange; never a global distinct over raw text."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        d.select("doc_id", F.md5("text").alias("text_hash"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "text_hash")
    )


# ------------------------------------------------- J8. MinHash + LSH

_NH = 24  # minhash functions
_BAND_R = 2  # rows per band → 12 bands; P(catch | jac=.8) ≈ 1 - 5e-6
_TAU = 0.5  # exact-verify threshold (corpus gap: planted pairs ≥.8, noise <.2)
_LSH_MAXDF = 64  # stop-shingle cap on the BANDING path (j34's lesson
# applied to whole-document LSH): every doc in a band bucket contains
# that band's argmin shingles, so bucket size ≤ the shingles' doc
# frequency — capping DF bounds every bucket by a CONSTANT and makes
# Σ|bucket|² linear in the corpus.  Without it, one popular shingle
# ("one of the") whose fixed md5 lands lucky-small for both rows of a
# band captures an e^(-g·α) fraction of its mass into ONE bucket (g =
# shingles/doc — short documents are the exposed case), and the exact
# verify then does |bucket|² work.  The cap applies to candidate
# GENERATION only; exact-Jaccard verification always uses the full
# shingle sets.  Testdata max shingle DF is 25 (sf0.1), so outputs
# here are byte-identical with or without the cap; docs with no
# sub-cap shingle are boilerplate and emit no candidates (route to
# j7 exact dedup).


def _minhash_exprs_spark():
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}#"), F.col("s")))).alias(f"h{i}")
        for i in range(_NH)
    ]


def _minhash_sql_arms():
    mins = ",\n         ".join(
        f"min(md5('{i}#' || s)) AS h{i}" for i in range(_NH)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, h{_BAND_R * b} || h{_BAND_R * b + 1} AS key FROM mh"
        for b in range(_NH // _BAND_R)
    )
    return mins, bands


_MINS, _BANDS = _minhash_sql_arms()

# oracle arm for the DF-capped banding path: tokf drops stop-shingles
# via an anti-join against the FREQUENT set — the Zipf head, the small
# side (≤ instances/cap entries), which Spark broadcasts at scale;
# joining against the rare set would ship the whole vocabulary
_TOKF_CTES = f"""freq AS (
  SELECT s FROM tok GROUP BY s HAVING count(*) > {_LSH_MAXDF}
),
tokf AS (
  SELECT tok.doc_id, tok.s FROM tok ANTI JOIN freq USING (s)
)"""

# band arms reading the capped signatures (j53 keeps full `mh` for its
# estimator and bands from `mhf`)
_BANDS_F = _BANDS.replace("FROM mh", "FROM mhf")


def _lsh_candidates(spark: SparkSession, sf_dir: str):
    """Shared j8/j51 LSH front half: (exploded shingle table,
    distinct banded candidate pairs).  Both returned frames are
    cached — the signature table is scanned twice by the self-join
    (at 100 TB it is a materialized table, written once, joined
    against itself)."""
    tok = cached(_shingle_tokens(_docs_with_shingles(spark, sf_dir)))
    # banding path only: drop stop-shingles (df > _LSH_MAXDF) so every
    # band bucket is bounded by a constant — see _LSH_MAXDF.  The
    # returned tok keeps the FULL shingle sets for exact verification.
    # Anti-join against the FREQUENT set: it is the Zipf head — the
    # small side in practice (vs the rare set = the whole
    # vocabulary), so AQE converts this to a broadcast anti-join at
    # runtime when its actual size allows, keeping tok's doc_id
    # partitioning for the signature groupBy; when a pathological
    # corpus makes the head big, the shuffle anti-join is the right
    # plan anyway — no hint, the optimizer decides from real sizes.
    freq = (
        tok.groupBy("s").count().where(F.col("count") > _LSH_MAXDF).select("s")
    )
    mh = (
        tok.join(freq, "s", "left_anti")
        .groupBy("doc_id")
        .agg(*_minhash_exprs_spark())
    )
    band_arr = F.array(
        *[
            F.concat(F.col(f"h{_BAND_R * b}"), F.col(f"h{_BAND_R * b + 1}"))
            for b in range(_NH // _BAND_R)
        ]
    )
    bands = cached(mh.select("doc_id", F.posexplode(band_arr).alias("band", "key")))
    left = bands.alias("a")
    right = bands.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j"))
        .distinct()
    )
    return tok, cand

@register(
    "j8_dedup_near",
    oracle=f"""
WITH {_DOC_CTES},
tok AS (SELECT doc_id, unnest(sh) AS s FROM sh3),
{_TOKF_CTES},
mh AS (
  SELECT doc_id,
         {_MINS}
  FROM tokf GROUP BY doc_id),
bands AS (
{_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT i AS doc_i, j AS doc_j,
         len(list_intersect(x.sh, y.sh))::DOUBLE
           / len(list_distinct(list_concat(x.sh, y.sh))) AS jac
  FROM cand JOIN sh3 x ON x.doc_id = i JOIN sh3 y ON y.doc_id = j)
SELECT doc_i, doc_j, round(jac, 6) AS jaccard
FROM verified WHERE jac >= {_TAU}
""",
)
def j8_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: 3-word shingles → stop-shingle DF cap →
    24 MinHashes (lexico-min of md5 strings) → 12 LSH bands of 2 →
    bucket-join candidates → exact Jaccard verify ≥ 0.5 over the FULL
    (uncapped) shingle sets.

    Scale: the only joins are equi-joins on (band, key) and on the
    shingle — docs collide only when a band matches, so cost tracks
    true duplicate density, not |docs|², and the DF cap bounds every
    band bucket by a constant (see _LSH_MAXDF; pinned by the
    popular-shingle stress in tests/test_scale_stress.py).  Shingle ARRAYS never move:
    the exploded (doc, shingle) table is cached once and both the
    minhash signatures and the exact verify (:func:`_exact_jaccard`:
    inverted-index intersection count over candidate pairs only, each
    shingle row carrying its doc's shingle count) derive from it.
    This finds the corpus's 25 planted near-dup pairs (jac ≥ .8)
    with P(miss) ≈ 1e-4, and the oracle replicates the identical
    pipeline, so parity holds regardless."""
    tok, cand = _lsh_candidates(spark, sf_dir)
    return (
        _exact_jaccard(tok, cand)
        .where(F.col("jac") >= _TAU)
        .select("doc_i", "doc_j", F.round("jac", 6).alias("jaccard"))
    )


# ------------------------------------------------- n-gram Jaccard (exact)


@register(
    "j8b_ngram_jaccard",
    oracle=f"""
WITH {_DOC_CTES},
pairs AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
         len(list_intersect(a.sh, b.sh))::DOUBLE
           / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
  FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id)
SELECT doc_i, doc_j, round(jac, 6) AS jaccard
FROM pairs WHERE jac >= {_TAU}
""",
)
def j8b_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.5 pairs — the ground truth j8's LSH
    approximates — via the inverted-index formulation: explode
    (doc, shingle), equi-join on the shingle, count shared shingles
    per pair, then jac = |∩| / (|A| + |B| − |∩|) — every shingle row
    carries its doc's shingle count, so |A| and |B| ride the one join
    (:func:`_exact_jaccard`) and no size table is joined back.

    A qualifying pair shares ≥ 1 shingle, so this is EXACTLY the
    naive all-pairs result, but work scales with Σ_shingle df²
    (shingle collision mass) instead of |docs|² — the all-pairs
    cross join stops completing at sf0.1, this runs in ~1 s.  Cost
    honesty: on real Zipfian text Σ df² is dominated by FREQUENT
    shingles ("one of the"), and exact semantics require counting
    them — a pair sharing only frequent shingles still contributes
    to |∩|, so no stop-shingle cap is admissible here (unlike j8's
    candidate generation, which IS capped).  This is the exact
    ground-truth baseline, run on samples/shards like j8d; the
    corpus-scale path is j8, and the known exact-join optimization
    (prefix filtering: index each doc's rarest shingles only, bound
    |∩| for the rest) trades this simplicity for it.  The join
    shuffles on the shingle hash, so it shards cleanly either way."""
    tok = _shingle_tokens(cached(_docs_with_shingles(spark, sf_dir)))
    return (
        _exact_jaccard(tok)
        .where(F.col("jac") >= _TAU)
        .select("doc_i", "doc_j", F.round("jac", 6).alias("jaccard"))
    )


# ------------------------------------------------------- SimHash dedup


def _simhash_col(nbits: int = 16):
    """Σ_b [Σ_tokens (2·bit_b − 1) > 0] · 2^b over a token's md5."""
    h = F.md5(F.col("s"))
    return [F.sum(2 * md5_bit(h, b) - 1).alias(f"s{b}") for b in range(nbits)]


@register(
    "j8c_simhash",
    oracle="""
WITH docs AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS s FROM docs),
bits AS (
  SELECT doc_id,
         {sums}
  FROM tok GROUP BY doc_id)
SELECT doc_id, {val} AS simhash FROM bits
""".format(
        sums=",\n         ".join(
            "sum(2 * (((strpos('0123456789abcdef', substr(md5(s), {pos}, 1)) - 1) // {p}) % 2) - 1) AS s{b}".format(
                pos=1 + b // 4, p=2 ** (3 - b % 4), b=b
            )
            for b in range(16)
        ),
        val=" + ".join(
            f"(CASE WHEN s{b} > 0 THEN 1 ELSE 0 END) * {2 ** b}" for b in range(16)
        ),
    ),
)
def j8c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document over distinct tokens: bit b is the
    sign of Σ(±1) votes from each token's md5 bit b.  Near-dups land
    at small Hamming distance; dedup at scale groups on the signature
    (or bit-band substrings), never on content.  Pure integer math →
    exact oracle parity."""
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("s")
    )
    bits = tok.groupBy("doc_id").agg(*_simhash_col())
    val = sum(
        F.when(F.col(f"s{b}") > 0, 1).otherwise(0) * (2**b) for b in range(16)
    )
    return bits.select("doc_id", val.alias("simhash"))


# -------------------------------------------- embedding-cosine near-dup


@register(
    "j8d_embed_neardup",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {EMB_ADMIT_SQL}),
p AS (
  SELECT a.vec_id AS id_i, b.vec_id AS id_j,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_i, id_j, round(cos, 6) AS cos_sim FROM p WHERE cos >= 0.4
""",
)
def j8d_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, τ=0.4 — this
    corpus's cosines top out at ~0.51), as a DISTRIBUTED block-matrix
    similarity join: rows hash into B = ⌈n/50k⌉ blocks, every
    unordered block pair {i,j} becomes one shuffle group (each row is
    replicated B ways — shuffle volume n·B, never n²), and one
    ``applyInPandas`` kernel per group matmuls block i against block
    j, emitting only pairs over threshold.  Nothing touches the
    driver; peak executor memory is two blocks (~2·50k·dim doubles),
    independent of corpus size.

    Exact-quadratic compute is the POINT of this key (the verified
    baseline); the pruned scale paths are j8e/j37 (LSH) and j26
    (SemDeDup cluster-bounded), which cut the pair space before any
    kernel runs.  BLAS cosine differs from the oracle's sequential
    fold by ~1 ulp — output rounds to 6dp, and τ sits far from any
    data value."""
    import math

    import numpy as np
    import pandas as pd

    e = embeddings_d(spark, sf_dir)
    n = e.count()
    B = max(1, math.ceil(n / 50_000))

    blk = (F.col("vec_id") % B).cast("int")
    # row in block p joins every group (min(p,q), max(p,q)) — each
    # unordered doc pair lands in exactly one group
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda q: F.struct(
            F.least(blk, q).cast("int").alias("gi"),
            F.greatest(blk, q).cast("int").alias("gj"),
        ),
    )
    rep = (
        e.select("vec_id", "emb", blk.alias("blk"), F.explode(keys).alias("g"))
        .select("vec_id", "emb", "blk", F.col("g.gi").alias("gi"), F.col("g.gj").alias("gj"))
    )

    def kernel(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        gi, gj = key
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        M = np.vstack(pdf["emb"].to_numpy())
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        blks = pdf["blk"].to_numpy()
        if gi == gj:
            S = M @ M.T
            keep = (S >= 0.4) & (ids[:, None] < ids[None, :])
            bi, bj = np.nonzero(keep)
            ii, jj = ids[bi], ids[bj]
            cs = S[bi, bj]
        else:
            li, rj = blks == gi, blks == gj
            S = M[li] @ M[rj].T
            ida, idb = ids[li], ids[rj]
            keep = S >= 0.4
            bi, bj = np.nonzero(keep)
            ii = np.minimum(ida[bi], idb[bj])
            jj = np.maximum(ida[bi], idb[bj])
            cs = S[bi, bj]
        return pd.DataFrame(
            {"id_i": ii, "id_j": jj, "cos_sim": np.round(cs, 6)}
        )

    return rep.groupBy("gi", "gj").applyInPandas(
        kernel, "id_i long, id_j long, cos_sim double"
    )


# ------------------------------------- SRP-LSH near-dup (deterministic ANN)

_SRP_BITS = 32  # 4 bands × 8 bits
_SRP_BAND_BITS = 8
_SRP_TAU = 0.4


def _srp_sign_matrix(bits: int) -> "np.ndarray":
    """j40's deterministic ±1 hyperplane matrix (64 dims × bits): the
    md5-parity of f"{i}_{b}" — the Python mirror of Spark's
    ``conv(substring(md5(concat_ws('_', i, b)), 1, 1), 16, 10) % 2``
    and the oracle's ``('0x' || substr(md5(i || '_' || b), 1, 1))::INT
    % 2`` (verified equal in tests/test_llm.py)."""
    import hashlib

    import numpy as np

    m = np.empty((64, bits), dtype=np.int64)
    for i in range(1, 65):
        for b in range(1, bits + 1):
            h0 = hashlib.md5(f"{i}_{b}".encode()).hexdigest()[0]
            m[i - 1, b - 1] = 1 if int(h0, 16) % 2 == 0 else -1
    return m


def _dec10_scaled_exact(x: float) -> int:
    """int(cast(x AS decimal(38,10)) · 10¹⁰) — Spark cast semantics:
    HALF_UP rounding of BigDecimal.valueOf(x), i.e. of the double's
    shortest decimal repr (probe-verified on tie values, round 13).
    Raises on decimal(38,10) overflow exactly like the ANSI cast."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    with localcontext() as ctx:
        ctx.prec = 60
        d = Decimal(repr(abs(x))).quantize(
            Decimal("1e-10"), rounding=ROUND_HALF_UP
        )
        u = int(d.scaleb(10))
    if u >= 10**38:
        raise ArithmeticError(
            f"{x!r} cannot be represented as Decimal(38, 10)"
        )
    return u if x > 0 else -u


def _srp_codes_kernel(batches):
    """mapInPandas kernel: (vec_id, emb) → (vec_id, band, code) — the
    SRP signature pipeline (cells → decimal sign-sums → bits → band
    codes) computed per vector with one int64 matmul against the
    constant sign matrix.

    Exactness: each element is quantized to the IDENTICAL
    decimal(38,10) the old in-plan cast produced, held as a scaled
    integer, and integer addition is associative — so the sign of
    every hyperplane sum, hence every bit and band code, is
    bit-identical to the decimal aggregation it replaces at any
    partitioning (value-parity pinned in tests/test_llm.py plus the
    DuckDB oracle hash).  Fast path: q = round(|x|·10¹⁰) via float64
    floor + HALF_UP on the fraction — exact when the fraction is
    provably far from the .5 tie (the product's error is < 4 ulp, so
    a magnitude-aware ambiguity band catches every at-risk element).
    Any ROW containing an ambiguous element, or one with |x|·10¹⁰ ≥
    2⁵² (untrustworthy fraction / int64-overflow territory — decimal
    (38,10) itself holds up to 1e28), is recomputed wholesale through
    exact arbitrary-precision Decimal/int arithmetic.  On real
    embeddings (|x| ≲ 1) the band is ~1e-6 wide so essentially no row
    pays the slow path; the guarantee is what matters."""
    import numpy as np
    import pandas as pd

    S = _srp_sign_matrix(_SRP_BITS)  # once per task (guide §4.5)
    n_bands = _SRP_BITS // _SRP_BAND_BITS
    weights = 1 << np.arange(_SRP_BAND_BITS, dtype=np.int64)
    for pdf in batches:
        if len(pdf) == 0:
            yield pd.DataFrame(
                {"vec_id": pd.Series([], dtype="int64"),
                 "band": pd.Series([], dtype="int32"),
                 "code": pd.Series([], dtype="int32")}
            )
            continue
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        M = np.vstack(pdf["emb"].to_numpy()).astype(np.float64, copy=False)
        a = np.abs(M) * 1e10
        fl = np.floor(a)
        f = a - fl
        risky = (np.abs(f - 0.5) < 4.0 * np.spacing(a) + 1e-9) | (
            a >= 2.0**52
        )
        Q = (np.sign(M) * np.where(f >= 0.5, fl + 1.0, fl)).astype(np.int64)
        bits = (Q @ S) > 0  # int64 exact: |q| < 2^52, 64 terms ≪ 2^63
        exact_rows = np.flatnonzero(risky.any(axis=1))
        for ri in exact_rows:
            qs = [_dec10_scaled_exact(float(x)) for x in M[ri]]
            bits[ri] = [
                sum(q * int(S[i, b]) for i, q in enumerate(qs)) > 0
                for b in range(_SRP_BITS)
            ]
        codes = (
            bits.astype(np.int64).reshape(len(ids), n_bands, _SRP_BAND_BITS)
            @ weights
        )
        yield pd.DataFrame(
            {
                "vec_id": np.repeat(ids, n_bands),
                "band": np.tile(np.arange(n_bands, dtype=np.int32), len(ids)),
                "code": codes.ravel().astype(np.int32),
            }
        )


@register(
    "j40_srp_lsh_neardup",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {EMB_ADMIT_SQL}),
cells AS (
  SELECT e.vec_id, bits.b,
         CAST(e.v[pos.i] * CASE WHEN ('0x' || substr(md5(pos.i || '_' || bits.b), 1, 1))::INT % 2 = 0
                                THEN 1 ELSE -1 END AS DECIMAL(38,10)) AS term
  FROM e
  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) pos
  CROSS JOIN (SELECT unnest(generate_series(1, {_SRP_BITS})) AS b) bits
),
sig AS (
  SELECT vec_id, b, CAST(sum(term) > 0 AS INT) AS bit
  FROM cells GROUP BY vec_id, b
),
codes AS (
  SELECT vec_id, (b - 1) // {_SRP_BAND_BITS} AS band,
         CAST(sum(bit * (2 ** ((b - 1) % {_SRP_BAND_BITS}))) AS INT) AS code
  FROM sig GROUP BY vec_id, (b - 1) // {_SRP_BAND_BITS}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_i, b2.vec_id AS id_j
  FROM codes a JOIN codes b2
    ON a.band = b2.band AND a.code = b2.code AND a.vec_id < b2.vec_id
),
ver AS (
  SELECT c.id_i, c.id_j,
         list_dot_product(x.v, y.v)
           / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS cos
  FROM cand c JOIN e x ON x.vec_id = c.id_i JOIN e y ON y.vec_id = c.id_j
)
SELECT id_i, id_j, round(cos, 6) AS cos_sim FROM ver WHERE cos >= {_SRP_TAU}
""",
)
def j40_srp_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via DETERMINISTIC sign-random-projection
    LSH — the bucketed scale path j8d's exact-quadratic baseline
    defers to, with a FULL value oracle (unlike j37's MLlib BRP-LSH,
    whose engine-internal hyperplanes force a rows-only check).

    The ±1 hyperplanes are md5-parity functions of (dim, bit) — both
    engines materialize the identical matrix, no RNG.  32 sign bits
    per vector (decimal-pinned projections, so a partition-order
    float drift can never flip a boundary bit), banded 4×8: two
    vectors are candidates iff they share any full 8-bit band code —
    an equi-join on (band, code), so the pair space scales with
    bucket collision mass, never |corpus|².  Candidates are then
    verified with the exact cosine expression and τ = 0.4.

    Recall/cost dial: more bands → higher recall, more candidates;
    more bits per band → sharper buckets.  4×8 keeps the candidate
    mass ~1-2% of all pairs on this corpus while catching the same
    high-cosine pairs j8d certifies exhaustively.

    Scale honesty: a b-bit band code lives in a FIXED 2^b domain, so
    for spread-out embeddings bucket sizes grow ~n/2^b — bits per
    band must scale with log₂(n) to keep buckets constant (8 bits
    fits this corpus; ~2·log₂(n/target) at fleet scale).  Unlike the
    text-minhash keys (j8/j34), sign patterns admit no unbounded
    content-derived domain, so widening the code (and multi-probing
    for recall) IS the standard mitigation — the bits knob is a
    module constant, not a rebuild.
    """
    e = embeddings_d(spark, sf_dir)
    # Round-13 (guide §4.2 — do the heavy lifting in native code):
    # the whole cells → decimal sign-sums → bits → band-codes
    # pipeline is ONE numpy kernel per vector (_srp_codes_kernel):
    # exact scaled-int64 quantization to the identical decimal(38,10)
    # values + one int64 matmul against the constant sign matrix —
    # bit-identical signatures (integer addition is associative, so
    # no partition-order sensitivity; parity pinned in
    # tests/test_llm.py and by the oracle hash), with the
    # |corpus|·64·32 cell explode, the broadcast sign join and both
    # aggregation exchanges gone from the plan.
    #
    # r12-opt measured rejections that led here (do not re-try):
    # (1) per-row SQL HOF folds (transform/aggregate/zip_with over a
    # literal sign matrix) were value-identical but 40% SLOWER —
    # higher-order functions evaluate interpreted, so 2048 per-row
    # BigDecimal ops lose to the codegen'd hash aggregate (exec min
    # 4.41 → 6.21 s); (2) a 32-wide decimal-sum aggregation lost
    # 4.5 → 8.0 s.  Both failure causes — interpreted per-row
    # evaluation and wide decimal buffers — are exactly what the
    # native-kernel path sidesteps (VERDICT r12 item 3).
    codes = e.select("vec_id", "emb").mapInPandas(
        _srp_codes_kernel, "vec_id long, band int, code int"
    )
    ca = codes.select(F.col("vec_id").alias("id_i"), "band", "code")
    cb = codes.select(F.col("vec_id").alias("id_j"), "band", "code")
    cand = (
        ca.join(cb, ["band", "code"])
        .where(F.col("id_i") < F.col("id_j"))
        .select("id_i", "id_j")
        .distinct()
    )
    ex = e.select(F.col("vec_id").alias("id_i"), F.col("emb").alias("vi"))
    ey = e.select(F.col("vec_id").alias("id_j"), F.col("emb").alias("vj"))
    cos = dot(F.col("vi"), F.col("vj")) / (
        l2_norm(F.col("vi")) * l2_norm(F.col("vj"))
    )
    return (
        cand.join(ex, "id_i")
        .join(ey, "id_j")
        .withColumn("cos", cos)
        .where(F.col("cos") >= _SRP_TAU)
        .select("id_i", "id_j", F.round("cos", 6).alias("cos_sim"))
    )


# --------------------------------------------------- J9. similarity search

_PROBE_MOD = 50  # vec_id % 50 == 0 → deterministic probe set
_TOPK = 10

# --- count-adaptive subcell quantizer (round-9 scale-soak fix) -------
#
# j9b and j26 coarse-quantize on `label` — a FIXED-cardinality domain,
# so cells grow linearly with the corpus and the per-cell pair work
# grows quadratically.  The round-9 10× soak measured exactly that
# (j9b 35×, j26 78× on 10× data) — the docstrings' "n·c not n²" claim
# only holds when the cell COUNT scales with n.  This is the real IVF
# discipline: nlist ∝ n / target_cell_size.
#
# The refinement: each vector gets nb deterministic sign-random-
# projection bits (j40's decimal-pinned md5-parity hyperplanes, its
# own salt), nb = clamp(ceil(log2(n / 2048)), 0, 12) — derived from
# COUNT(*) in BOTH engines, so the oracle stays in lockstep at any
# scale.  Cluster key becomes (label, scode): expected cell size is
# ~_CELL_TARGET regardless of corpus size, so j9b's probe cost per
# query and j26's per-row pair work stay CONSTANT as data grows.  At
# every driver/bench scale (n ≤ 2048) nb = 0 and the code collapses
# to a constant 0 — bit-identical results and plans to the
# pre-round-9 behavior; only beyond ~2k vectors does the quantizer
# deepen (1 extra bit per doubling).  Recall note: a (label, scode)
# cell boundary can split a true neighbor pair — the standard IVF
# recall/cost trade, mirrored exactly in the oracle; j9 remains the
# exact brute-force baseline.
_CELL_TARGET = 2048
_SUBCELL_MAX_BITS = 12
_SUBCELL_SALT = "cell"

# Oracle-side mirror.  Assumes a CTE `e(vec_id, v, ...)` is already
# defined (the EMB_ADMIT-gated embeddings).  Produces `scodes(vec_id,
# scode)` with scode = 0 when nb = 0 (the LEFT JOIN + coalesce keeps
# every vector when the scells CTE is empty).
_SUBCELL_CTES = f"""
sp AS (SELECT least({_SUBCELL_MAX_BITS}, greatest(0,
              ceil(log2(greatest(1.0, count(*)::DOUBLE / {_CELL_TARGET})))))::INT AS nb
       FROM e),
scells AS (
  SELECT e.vec_id, bits.b,
         CAST(e.v[pos.i] * CASE WHEN ('0x' || substr(md5(pos.i || '_' || bits.b || '_{_SUBCELL_SALT}'), 1, 1))::INT % 2 = 0
                                THEN 1 ELSE -1 END AS DECIMAL(38,10)) AS term
  FROM e
  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) pos
  CROSS JOIN (SELECT unnest(generate_series(1, {_SUBCELL_MAX_BITS})) AS b) bits
  WHERE bits.b <= (SELECT nb FROM sp)),
ssig AS (SELECT vec_id, b, CAST(sum(term) > 0 AS INT) AS bit
         FROM scells GROUP BY vec_id, b),
scodes0 AS (SELECT vec_id, CAST(sum(bit * (2 ** (b - 1))) AS INT) AS scode
            FROM ssig GROUP BY vec_id),
scodes AS (SELECT e.vec_id, coalesce(s.scode, 0) AS scode
           FROM e LEFT JOIN scodes0 s USING (vec_id))
"""


def _subcell_codes(
    spark: SparkSession, e: DataFrame
) -> tuple[int, DataFrame | None]:
    """(nb, scodes) for the count-adaptive subcell quantizer — the
    Spark mirror of _SUBCELL_CTES (same md5-parity hyperplanes, same
    decimal-pinned projections, same count-derived bit depth).
    `e` must carry (vec_id, emb).

    nb == 0 (every driver/bench scale: n ≤ _CELL_TARGET·2) means every
    scode is the constant 0, so callers skip the scode join entirely —
    results are identical (the oracle's scodes are all 0 too, making
    its scode equi-condition vacuous) and the sub-threshold plan stays
    bit-identical to the label-only pre-round-9 one."""
    import math

    n = e.count()
    nb = min(
        _SUBCELL_MAX_BITS,
        max(0, math.ceil(math.log2(max(1.0, n / _CELL_TARGET)))),
    )
    if nb == 0:
        return 0, None
    pos = e.select("vec_id", F.posexplode("emb").alias("p0", "x")).select(
        "vec_id", (F.col("p0") + 1).alias("i"), "x"
    )
    bits = spark.range(1, nb + 1).select(F.col("id").alias("b"))
    dims = spark.range(1, 65).select(F.col("id").alias("i"))
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_", F.col("i"), F.col("b"), F.lit(_SUBCELL_SALT)
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    signs = dims.crossJoin(bits).select("i", "b", sign.alias("sgn"))
    cells = pos.join(F.broadcast(signs), "i").select(
        "vec_id", "b", (F.col("x") * F.col("sgn")).cast(DEC).alias("term")
    )
    sig = cells.groupBy("vec_id", "b").agg(
        (F.sum("term") > 0).cast("int").alias("bit")
    )
    return nb, sig.groupBy("vec_id").agg(
        F.sum(F.col("bit") * F.pow(F.lit(2), F.col("b") - 1))
        .cast("int")
        .alias("scode")
    )

_J9_CTES = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
      WHERE {EMB_ADMIT_SQL}),
probes AS (SELECT * FROM e WHERE vec_id % {_PROBE_MOD} = 0)
"""


@register(
    "j9_sim_search",
    oracle=f"""
WITH {_J9_CTES},
scored AS (
  SELECT p.vec_id AS q_id, c.vec_id AS n_id,
         list_dot_product(p.v, c.v)
           / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM probes p JOIN e c ON c.vec_id <> p.vec_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
  FROM scored)
SELECT q_id, n_id, rn, round(cos, 6) AS cos_sim FROM ranked WHERE rn <= {_TOPK}
""",
)
def j9_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline, on the shared BLAS
    kernel: probes are chunk-broadcast, candidate Arrow batches score
    a full |Q|×|batch| cosine matrix in one matmul, and only the
    batch-local top-k leaves each task (operators/knn.py — the same
    dataflow as the kNN core).  ~3× the Catalyst higher-order-function
    expression path on 64-dim vectors; ties broken (cos desc, n_id)
    exactly like the oracle because the kernel ranks (-cos asc, n_id)."""
    e = embeddings_d(spark, sf_dir)
    probes = e.where(F.col("vec_id") % _PROBE_MOD == 0)
    knn = knn_join_blas(
        probes, e, _TOPK, metric="cosine_neg", exclude_self=True
    )
    return knn.select(
        "q_id",
        "n_id",
        "rn",
        F.round(-F.col("dist"), 6).alias("cos_sim"),
    )


@register(
    "j9b_sim_search_ivf",
    oracle=f"""
WITH {_J9_CTES},
{_SUBCELL_CTES},
cent_dim AS (
  SELECT label, j AS dim,
         sum(CAST(v[j] AS DECIMAL(38,10)))::VARCHAR::DOUBLE / count(*) AS cv
  FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j)
  GROUP BY label, j),
cent AS (SELECT label, list(cv ORDER BY dim) AS cvec FROM cent_dim GROUP BY label),
probe_clusters AS (
  SELECT q_id, label FROM (
    SELECT p.vec_id AS q_id, c.label,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY list_dot_product(p.v, c.cvec)
                      / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                      c.label) AS cr
    FROM probes p CROSS JOIN cent c
  ) WHERE cr <= 3),
scored AS (
  SELECT p.vec_id AS q_id, c.vec_id AS n_id,
         list_dot_product(p.v, c.v)
           / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM probes p
  JOIN scodes qs ON qs.vec_id = p.vec_id
  JOIN probe_clusters pc ON pc.q_id = p.vec_id
  JOIN e c ON c.label = pc.label AND c.vec_id <> p.vec_id
  JOIN scodes cs ON cs.vec_id = c.vec_id AND cs.scode = qs.scode),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
  FROM scored)
SELECT q_id, n_id, rn, round(cos, 6) AS cos_sim FROM ranked WHERE rn <= {_TOPK}
""",
)
def j9b_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN — the 100 TB scale path for j9: coarse-quantize
    with per-label centroids (deterministic k-means stand-in), probe
    the nprobe=3 nearest clusters per query, exact-rank inside probed
    clusters only.  Work drops from |Q|·|C| to |Q|·(3/k_clusters)·|C|
    and the candidate join is an equi-join on the cluster id (hash-
    partitionable) instead of a cross join.  Deterministic end to
    end → full value oracle, unlike typical randomized ANN.

    Labels are a FIXED-cardinality domain, so beyond _CELL_TARGET·2
    vectors the cluster key deepens to (label, scode) via the
    count-adaptive subcell quantizer (see the block comment above
    _CELL_TARGET) — expected cell size stays ~constant as the corpus
    grows, which is the real IVF nlist ∝ n discipline.  The round-9
    10× soak measured the label-only version at 23× exec on 10×
    data; with subcells the probe cost per query is flat."""
    e = cached(embeddings_d(spark, sf_dir))
    nb, scodes = _subcell_codes(spark, e)
    probes = e.where(F.col("vec_id") % _PROBE_MOD == 0)

    # per-label centroid: exact-decimal mean per dimension, re-assembled
    # in dimension order (collect_list order is nondeterministic;
    # array_sort on (pos, val) structs restores it).
    cent = (
        e.select("label", F.posexplode("emb").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
                "cv"
            )
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
            ).alias("cvec")
        )
    )

    wq = Window.partitionBy("q_id").orderBy(F.col("ccos").desc(), F.col("label"))
    probe_clusters = (
        probes.select(F.col("vec_id").alias("q_id"), F.col("emb").alias("qv"))
        .crossJoin(F.broadcast(cent))
        .withColumn("ccos", cosine_sim(F.col("qv"), F.col("cvec")))
        .withColumn("cr", F.row_number().over(wq))
        .where(F.col("cr") <= 3)
        .select("q_id", "qv", "label")
    )

    cand = e.select(
        F.col("vec_id").alias("n_id"), F.col("emb").alias("nv"), "label"
    )
    if nb:  # super-threshold: candidates must share the query's scode
        probe_clusters = probe_clusters.join(
            scodes.withColumnRenamed("vec_id", "q_id"), "q_id"
        )
        cand = cand.join(scodes.withColumnRenamed("vec_id", "n_id"), "n_id")
    wk = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        probe_clusters.join(cand, ["label", "scode"] if nb else ["label"])
        .where(F.col("n_id") != F.col("q_id"))
        .withColumn("cos", cosine_sim(F.col("qv"), F.col("nv")))
        .withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= _TOPK)
        .select("q_id", "n_id", "rn", F.round("cos", 6).alias("cos_sim"))
    )


# ------------------------------------------------------- J10. TF-IDF


@register(
    "j10_text_tfidf",
    oracle="""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS term FROM docs),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf * ln(n.n::DOUBLE / df.df) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored)
SELECT doc_id, term, rn, round(tfidf, 6) AS tfidf
FROM ranked WHERE rn <= 5
""",
)
def j10_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → TF → IDF → top-5 terms per doc.  All built-in SQL
    (the MLlib HashingTF+IDF pipeline gives hashed, engine-specific
    features — this variant is the oracle-able one).  Scale: tf and
    df are partial-aggregable; the df re-join is a plain equi-join on
    term — no forced hint, because vocab grows with the corpus (Heaps'
    law: URLs/numbers alone blow the 8 GB broadcast ceiling at 100 TB).
    AQE still broadcasts it when the runtime size is genuinely small;
    otherwise tf and df co-partition on the term key."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df DERIVED from tf (round-12): tf holds exactly one row per
    # (doc, term), so count(*) per term IS count(DISTINCT doc_id) —
    # same integer, but the corpus is scanned and tokenized ONCE
    # (ReuseExchange shares tf's shuffle between the tf and df
    # branches) instead of the old second explode + two-phase
    # distinct aggregate over the raw token stream.
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a broadcast single-row aggregate (a scalar agg is
    # exactly what the hint discipline allows) — one plan, no separate
    # driver-side count job
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("doc_id", "term", "rn", F.round("tfidf", 6).alias("tfidf"))
    )


# ------------------------------------------------------ J11. centroids


@register(
    "j11_centroid",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
           WHERE {EMB_ADMIT_SQL})
SELECT label, j AS dim,
       round(sum(CAST(v[j] AS DECIMAL(38,10)))::VARCHAR::DOUBLE / count(*), 6) AS centroid
FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j)
GROUP BY label, j
""",
)
def j11_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid, one row per (label, dimension).
    posexplode → partial-aggregable (label, dim) mean: the shuffle
    carries 10×64 groups regardless of corpus size.  Exact-decimal
    mean for cross-engine determinism."""
    e = embeddings_d(spark, sf_dir)
    return (
        e.select("label", F.posexplode("emb").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1)), 6
            ).alias("centroid")
        )
    )


# ----------------------------------------------------- J12. multimodal


@register(
    "j12_multimodal",
    oracle="""
SELECT d.doc_id, d.lang, d.n_chars, e.label,
       octet_length(encode(d.text)) AS payload_bytes,
       len(e.embedding) AS emb_dim
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def j12_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal row: text + opaque binary payload + embedding +
    typed metadata in one table (documents ⋈ embeddings by id).  The
    binary column is a real BinaryType passthrough — the pattern for
    image/audio blobs whose decode happens in j12b."""
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .withColumn("payload", F.encode("text", "UTF-8"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            "label",
            F.octet_length("payload").alias("payload_bytes"),
            F.size("embedding").alias("emb_dim"),
        )
    )


def _parse_bmp_frames(buf: bytes):
    """Walk a multi-frame 24-bit BMP payload; return (width, height,
    n_frames, mean_px) or None for a MALFORMED payload.

    Explicit checks, not `assert`: asserts vanish under ``python -O``
    (a corrupt payload would then mis-walk silently), and when active
    a single bad payload would raise and kill the whole job — corrupt
    payloads must take the same dead-letter route as NULL ones
    (round-9 ADVICE).  Module-level so tests can feed it garbage
    directly; executors resolve it by reference through this module."""
    import struct

    import numpy as np

    pos, frames = 0, 0
    w = hh = 0
    px_sum, px_cnt = 0, 0
    while pos < len(buf):
        if buf[pos : pos + 2] != b"BM" or pos + 54 > len(buf):
            return None  # bad magic / truncated header
        (fsize, offset) = struct.unpack_from("<I4xI", buf, pos + 2)
        (w, hh, _planes, bpp) = struct.unpack_from("<4xiiHH", buf, pos + 14)
        row_size = (w * 3 + 3) // 4 * 4
        need = hh * row_size
        if (
            bpp != 24  # kernel speaks 24-bit BMP
            or w <= 0
            or hh <= 0
            or fsize <= 0  # a non-advancing frame size would spin
            or offset < 54
            or pos + offset + need > len(buf)  # truncated pixel rows
        ):
            return None
        arr = np.frombuffer(
            buf, dtype=np.uint8, count=need, offset=pos + offset
        ).reshape(hh, row_size)[:, : w * 3]
        px_sum += int(arr.sum(dtype=np.int64))
        px_cnt += arr.size
        frames += 1
        pos += fsize
    if frames == 0 or px_cnt == 0:
        return None
    return w, hh, frames, px_sum / px_cnt


def _encode_bmp_frames(text: str) -> bytes | None:
    """Encode a document's text into j12b's multi-frame 24-bit BMP
    payload: (w, h, n_frames) derived from md5(text), every pixel of
    row y the constant (y*7 + 13) % 256.  Returns None for NULL text
    (the dead-letter route, matching md5(NULL)).

    Round 13: the per-row Python loop (``bytes([px]) * (w*3)`` + pad,
    appended row by row) became one vectorized numpy fill —
    byte-identical output (pinned by tests), ~5× less Python-level
    copying per frame.  Module-level so tests can pin
    parse(encode(text)) round-trip parity directly."""
    import hashlib
    import struct

    import numpy as np

    if text is None:
        return None
    h16 = hashlib.md5(text.encode("utf-8")).hexdigest()
    w = 64 + int(h16[0:2], 16) % 192
    hh = 64 + int(h16[2:4], 16) % 192
    n = 1 + int(h16[4:5], 16) % 8
    row_size = (w * 3 + 3) // 4 * 4
    px = ((np.arange(hh, dtype=np.uint32) * 7 + 13) % 256).astype(np.uint8)
    rows = np.zeros((hh, row_size), dtype=np.uint8)
    rows[:, : w * 3] = px[:, None]  # padding columns stay zero
    pixel_bytes = rows.tobytes()
    header = struct.pack(
        "<2sIHHI" "IiiHHIIiiII",
        b"BM", 54 + len(pixel_bytes), 0, 0, 54,  # file header
        40, w, hh, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0,
    )
    return (header + pixel_bytes) * n


@register(
    "j12b_multimodal_decode",
    # the oracle recomputes what a correct decode must find: the
    # encoder derives (w, h, frames) from md5(text), paints every
    # pixel row y with the constant (y*7 + 13) % 256, and the mean
    # pixel has the closed form avg over y — one ≤255-row
    # generate_series per document
    oracle="""
SELECT doc_id,
       64 + ('0x' || substr(md5(text), 1, 2))::INT % 192 AS width,
       64 + ('0x' || substr(md5(text), 3, 2))::INT % 192 AS height,
       1 + ('0x' || substr(md5(text), 5, 1))::INT % 8 AS n_frames,
       list_sum([(y * 7 + 13) % 256
                 for y in generate_series(0, 64 + ('0x' || substr(md5(text), 3, 2))::INT % 192 - 1)])::DOUBLE
         / (64 + ('0x' || substr(md5(text), 3, 2))::INT % 192) AS mean_px
FROM documents
""",
)
def j12b_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode over mapInPandas, zero codec libraries: each
    document is ENCODED into a multi-frame payload of genuine 24-bit
    BMP images (plain struct packing — BMP is a 54-byte header plus
    raw BGR rows padded to 4 bytes, no compression, which is why it
    needs no codec), then a second Arrow-batched kernel DECODES the
    container back: checks each frame's 'BM' magic, walks frames by
    the header's file-size field, parses width/height/bpp/data-offset
    with struct.unpack, strips the per-row padding, and reduces the
    raw pixel array to (width, height, n_frames, mean_px).

    Until round 8 this kernel was a documented stub (dimensions faked
    from md5 — no image libs in the container); packing the BMPs
    ourselves removes the dependency instead of the decode.  The
    Spark-side contract is the production shape either way: Arrow
    batches through a pandas worker, partition-parallel, typed
    metadata out — swap the parser for PIL/ffmpeg when real media
    arrives and nothing else changes.

    Round 13 (guide §4.1/§4.2 — control how many bytes cross the
    boundary): the encode and decode kernels are FUSED into one
    mapInPandas pass.  The two-kernel form round-tripped the full
    ~350 KB/doc payload through Arrow twice (worker → JVM → worker:
    serialize, JVM buffer, deserialize, pandas binary-column build —
    ~4 full-payload copies for ~1.7 GB of payload at sf0.1) purely to
    hand it from one Python function to the next inside the SAME
    pipelined stage.  The fused kernel builds each payload and parses
    it back in place: the encode still packs genuine BMP bytes and
    the decode still walks magic/headers/pixel rows via
    _parse_bmp_frames (both module-level and test-pinned) — only the
    pointless boundary crossings are gone.  The payload column never
    existed in the declared output, so the computation is unchanged.

    Determinism: pixel row y is the constant (y*7 + 13) % 256 in all
    three channels, so mean_px = Σ/count with integer Σ and count.
    The kernel's (n·w·3·h)-pixel ratio and the oracle's per-row
    closed form are the SAME exact rational, and IEEE division is
    correctly rounded, so both emit the identical double unrounded —
    no round() whose half-way semantics the engines could disagree
    on.  A NULL payload decodes to NULL metadata (the dead-letter
    route), matching md5(NULL); a CORRUPT payload (bad magic, wrong
    bpp, truncated pixels, non-advancing frame size) takes the same
    route via explicit checks rather than asserts — asserts vanish
    under ``python -O`` and would otherwise kill the job on one bad
    payload (round-9 ADVICE)."""
    import pandas as pd

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    # Round-12 (guide §8.4 "decide with small rows, move big rows
    # once", §2.5 input skew): the heaviest Python kernel in the
    # registry — each doc expands to ~350 KB of BMP frames, encoded
    # AND decoded in Python (~1.7 GB through the Arrow boundary at
    # sf0.1) — ran as ONE task because a single-row-group parquet
    # scan yields one split, serializing the whole pipeline on one
    # of 32 cores (measured 9.0 s exec isolated).  Repartitioning
    # the ~500-byte text rows BEFORE the payload exists costs a
    # ~2.5 MB round-robin shuffle and parallelizes the kernel (since
    # round 13 a single fused encode+decode pass; the payload never
    # leaves the Python worker, let alone hits a shuffle).
    # Gated: only fires when the scan under-splits relative to the
    # cluster (at 100 TB the doc scan spans ≫ cores splits and this
    # is a no-op).  Contrast the kNN candidate-side repartition
    # rejected this round: there the payload itself was shuffled to
    # feed a cheap BLAS kernel; here cheap rows move to feed an
    # expensive kernel.  Measured (interleaved A/B, 5 reps): median
    # 11.8 → 8.0 s, min 5.8 → 4.9 s — a ~25-30% win, not Nx, because
    # the kernel is MEMORY-BANDWIDTH-bound, not CPU-bound: the
    # encode/decode is ~20 GB of memcpy-class traffic (payload built,
    # repeated ×n frames, Arrow-serialized twice, padding stripped),
    # and 32 concurrent copying processes saturate DRAM long before
    # they saturate cores.  On a multi-node cluster the same
    # repartition scales linearly (each node brings its own memory
    # bus) — which is why the gate stays despite the modest local
    # ceiling.
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)

    def _encode_decode(batches):
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [], "n_frames": [], "mean_px": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                out["doc_id"].append(doc_id)
                payload = _encode_bmp_frames(text)
                parsed = None if payload is None else _parse_bmp_frames(payload)
                if parsed is None:  # NULL or corrupt: dead-letter row
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_frames"].append(None)
                    out["mean_px"].append(None)
                    continue
                w, hh, frames, mean_px = parsed
                out["width"].append(w)
                out["height"].append(hh)
                out["n_frames"].append(frames)
                out["mean_px"].append(mean_px)
            yield pd.DataFrame(out)

    return d.mapInPandas(
        _encode_decode,
        "doc_id BIGINT, width INT, height INT, n_frames INT, mean_px DOUBLE",
    )


# ------------------------------------------------- J13. text analysis

_LANG_MARKERS = {
    "de": ("der", "die", "und", "ist"),
    "en": ("the", "a", "is", "of"),
    "es": ("el", "los", "y", "es"),
    "fr": ("le", "la", "et", "est"),
    "zh": ("的", "是", "了", "在"),
}


def _lang_sql_scores():
    return ",\n         ".join(
        "len(list_filter(w, x -> list_contains({lst}, x))) AS c_{lang}".format(
            lst="[" + ", ".join(f"'{m}'" for m in ms) + "]", lang=lang
        )
        for lang, ms in _LANG_MARKERS.items()
    )


@register(
    "j13_lang_id",
    oracle=f"""
WITH docs AS (SELECT doc_id, lang,
                     string_split(coalesce(text, ''), ' ') AS w
              FROM documents),
scores AS (
  SELECT doc_id, lang,
         {_lang_sql_scores()}
  FROM docs),
long_scores AS (
  SELECT doc_id, lang, cand, c FROM scores
  UNPIVOT (c FOR cand IN (c_de AS 'de', c_en AS 'en', c_es AS 'es',
                          c_fr AS 'fr', c_zh AS 'zh')))
SELECT doc_id, lang, CASE WHEN c = 0 THEN 'unk' ELSE cand END AS pred_lang
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY c DESC, cand) AS rn
  FROM long_scores
) WHERE rn = 1
""",
)
def j13_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: count each language's marker tokens,
    argmax with (count desc, lang asc) tiebreak, 'unk' when nothing
    fires.  Honest caveat: this corpus's text is the same English-ish
    word soup for every `lang` value, so predictions ≈ 'en'/'unk' —
    the operator (and its oracle parity) is the deliverable, the
    fixture has no real signal to recover."""
    # NULL text = zero tokens → every marker count 0 → 'unk' (a NULL
    # array would instead NULL the counts, and SQL UNPIVOT silently
    # drops NULL cells — the doc would vanish from the oracle)
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        tokens(F.coalesce(F.col("text"), F.lit(""))).alias("w"),
    )
    w = F.col("w")
    scored = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lang).alias("cand"),
                        F.size(
                            F.filter(w, lambda x: x.isin(*ms))  # noqa: B023
                        ).alias("c"),
                    )
                    for lang, ms in _LANG_MARKERS.items()
                ]
            )
        ).alias("s"),
    ).select("doc_id", "lang", F.col("s.cand").alias("cand"), F.col("s.c").alias("c"))
    win = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("cand"))
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.when(F.col("c") == 0, "unk").otherwise(F.col("cand")).alias("pred_lang"),
        )
    )


_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_SW_SQL = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"


@register(
    "j14_quality_score",
    oracle=f"""
WITH docs AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents),
m AS (
  SELECT doc_id, n_chars,
         len(w) AS n_tokens,
         len(list_filter(w, x -> list_contains({_SW_SQL}, x)))::DOUBLE / len(w) AS stop_ratio,
         (n_chars - len(w) + 1)::DOUBLE / len(w) AS avg_token_len
  FROM docs)
SELECT doc_id, n_tokens, round(stop_ratio, 6) AS stop_ratio,
       round(avg_token_len, 6) AS avg_token_len,
       round(least(n_tokens / 100.0, 1.0) * 0.5
             + stop_ratio * 0.3
             + least(avg_token_len / 10.0, 1.0) * 0.2, 6) AS quality
FROM m
""",
)
def j14_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length saturation + stopword ratio
    + mean token length, fixed linear blend.  Pure per-row arithmetic
    (int-derived doubles, IEEE-identical across engines) — the shape
    every corpus-filtering pipeline starts from."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", tokens("text").alias("w")
    )
    w = F.col("w")
    m = d.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        (
            F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS))).cast("double")
            / F.size(w)
        ).alias("stop_ratio"),
        (
            (F.col("n_chars") - F.size(w) + 1).cast("double") / F.size(w)
        ).alias("avg_token_len"),
    )
    quality = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.5
        + F.col("stop_ratio") * 0.3
        + F.least(F.col("avg_token_len") / 10.0, F.lit(1.0)) * 0.2
    )
    return m.select(
        "doc_id",
        "n_tokens",
        F.round("stop_ratio", 6).alias("stop_ratio"),
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round(quality, 6).alias("quality"),
    )


@register(
    "j15_token_count",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
       length(text) AS n_chars_measured
FROM documents
""",
)
def j15_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish
    lowercase-alnum regex run pass — the standard "how many tokens
    will this cost" pre-pass, all JVM-side expressions."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens("text")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias(
            "re_tokens"
        ),
        F.length("text").alias("n_chars_measured"),
    )


@register(
    "j16_fingerprint",
    oracle="""
WITH docs AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id, text,
         [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
          for i in generate_series(1, len(w) - 4)] AS s5
  FROM docs)
SELECT doc_id,
       CASE WHEN len(s5) = 0 THEN md5(text)
            ELSE list_min(list_transform(s5, x -> md5(x))) END AS fingerprint
FROM sh
""",
)
def j16_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: minimum md5 over rolling 5-word shingles
    (winnowing with window = whole doc).  Robust to small edits that
    don't touch the minimal shingle; groupable for cheap clustering.
    Short docs fall back to whole-text md5."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens("text").alias("w")
    )
    s5 = shingles(F.col("w"), 5)
    return d.select(
        "doc_id",
        F.when(F.size(s5) == 0, F.md5("text"))
        .otherwise(F.array_min(F.transform(s5, lambda x: F.md5(x))))
        .alias("fingerprint"),
    )


# ----------------------------------- near-dup clusters (connected comps)


@register(
    "j8f_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_DOC_CTES},
pairs AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
  FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= {_TAU}),
edges AS (SELECT doc_i AS src, doc_j AS dst FROM pairs
          UNION ALL
          SELECT doc_j AS src, doc_i AS dst FROM pairs),
reach AS (
  SELECT DISTINCT src AS node, src AS lab FROM edges
  UNION
  SELECT e.dst AS node, r.lab AS lab FROM edges e JOIN reach r ON r.node = e.src),
comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS csize
FROM comp
""",
)
def j8f_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the step after pairwise detection that a
    real dedup pipeline needs — group transitively-linked near-dup
    docs into components and label each doc with its component's min
    doc_id (the canonical survivor).

    Edges are the exact 3-gram-Jaccard >= tau pairs (the same
    :func:`_exact_jaccard` inverted index as j8b_ngram_jaccard), built
    once: connected_components symmetrizes them in one scan.
    Components come from Pregel-style min-label propagation expressed
    purely as DataFrame joins: each round every node's label becomes
    min(own, neighbors'); converges in O(component diameter) rounds.
    Each round is one shuffle on the node id; `localCheckpoint`
    truncates the lineage so plans stay flat.  At 100 TB near-dup components are tiny and shallow
    (dup clusters, not a social graph), so 3-5 rounds suffice; the
    convergence count() is an O(|V|) agg, not a collect.

    Oracle: DuckDB recursive CTE propagating labels to a fixpoint.
    """
    tok = _shingle_tokens(cached(_docs_with_shingles(spark, sf_dir)))
    pairs = _exact_jaccard(tok).where(F.col("jac") >= _TAU).select("doc_i", "doc_j")
    comp = connected_components(pairs, src="doc_i", dst="doc_j")

    w = Window.partitionBy("cluster_id")
    return (
        comp.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
        .withColumn("csize", F.count(F.lit(1)).over(w))
    )


# ------------------------------------- deterministic stratified sample


@register(
    "j17_stratified_sample",
    oracle="""
SELECT doc_id, lang, source FROM documents
WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
      < CASE WHEN lang = 'en' THEN 4 ELSE 8 END
""",
)
def j17_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus rebalancing:
    downsample the dominant language (en -> 4/16) while keeping the
    tail languages at 8/16, keyed on an md5 bucket of doc_id so the
    sample is stable across runs, engines, and partitionings (unlike
    sample()/randomSplit, whose RNG is partition-dependent).

    Scale: a narrow filter evaluated inside the scan stage - no
    shuffle at all; the hex-digit bucket is uniform so output is
    balanced across partitions.  The same predicate works as a
    partition-pruning key if the corpus is bucketed by the digest."""
    d = t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
        .cast("int")
    )
    thr = F.when(F.col("lang") == "en", 4).otherwise(8)
    return d.where(bucket < thr).select("doc_id", "lang", "source")


# ------------------------------------------ embedding int8 quantization


@register(
    "j18_embed_quantize",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {EMB_ADMIT_SQL}),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS sc
      FROM e)
SELECT vec_id, j AS dim,
       CAST(round(v[j] / sc * 127, 0) AS INT) AS qval,
       round(sc, 6) AS scale
FROM s CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j)
WHERE sc > 0
""",
)
def j18_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column with a
    per-vector absmax scale — the storage/bandwidth lever for
    vector corpora (4x smaller than float32, 8x than float64;
    brute-force scans become int8 dot products).

    Row-parallel and shuffle-free: scale + quantized values are
    computed inside the scan stage; posexplode only widens the
    output for the oracle's sake.  Division and rounding happen in
    the same expression shape in both engines so the doubles agree
    bit-for-bit before the half-up round."""
    e = embeddings_d(spark, sf_dir)
    sc = F.array_max(F.transform("emb", lambda x: F.abs(x)))
    return (
        e.select("vec_id", "emb", sc.alias("sc"))
        .where(F.col("sc") > 0)
        .select("vec_id", "sc", F.posexplode("emb"))
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("dim"),
            F.round(F.col("col") / F.col("sc") * 127).cast("int").alias("qval"),
            F.round("sc", 6).alias("scale"),
        )
    )


# --------------------------------------------- text normalization


@register(
    "j19_text_normalize",
    oracle="""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
       length(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS n_chars_norm
FROM documents
""",
)
def j19_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text cleanup before hashing/dedup: lowercase, strip
    non-alphanumerics, collapse whitespace.  Pure per-row string
    expressions inside the scan stage — no shuffle, codegen'd.
    Output is the md5 of the normalized text (not the text itself)
    so downstream exact-dedup runs on 16-byte keys."""
    d = t(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(norm).alias("n_chars_norm"),
    )


# --------------------------------------- benchmark decontamination


@register(
    "j20_decontaminate",
    oracle="""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
              unnest(list_distinct([array_to_string(w[i:i+4], ' ')
                                    for i in generate_series(1, len(w) - 4)])) AS g
       FROM docs),
ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
hits AS (SELECT s.doc_id, count(*) AS n
         FROM sh s JOIN ev USING (g)
         WHERE s.doc_id % 50 != 0 GROUP BY s.doc_id)
SELECT d.doc_id,
       coalesce(h.n, 0) AS n_overlap,
       CAST(coalesce(h.n, 0) >= 1 AS INT) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 50 != 0
""",
)
def j20_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any
    5-gram with a held-out eval set (here the deterministic
    doc_id % 50 == 0 subset standing in for an external benchmark).
    This is the standard pre-training hygiene step (GPT-3 §C /
    Gopher-style n-gram overlap), absent from the reference (pure
    classifier — SURVEY.md §2) but mandated pipeline surface.

    Calibration on this corpus: 5-gram overlap flags EXACTLY the
    planted near-dup partner of an eval doc (1 hit at sf0.01);
    3-grams would flag 257/490 docs on vocabulary noise.  Long
    n-grams are what make this check precise.

    Scale shape: the eval side is tiny by construction, so its
    distinct-shingle set BROADCASTS — the corpus-side scan streams
    through a broadcast semi-probe and only the (rare) hits shuffle
    into the per-doc count.  The 100 TB cost is one pass over the
    corpus; there is no corpus×corpus term."""
    sh = _docs_with_shingles(spark, sf_dir, 5)
    corp = sh.where(F.col("doc_id") % 50 != 0)
    ev = (
        sh.where(F.col("doc_id") % 50 == 0)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    hits = (
        corp.select("doc_id", F.explode("sh").alias("g"))
        .join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    base = t(spark, sf_dir, "documents").where(F.col("doc_id") % 50 != 0)
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= 1).cast("int").alias("contaminated"),
        )
    )


# ------------------------------------------------- PII scrubbing


_PII_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\d{3}[-. ]\d{3}[-. ]\d{4}"
_DENY_RE = r"\b(customer|supplier)\b"


@register(
    "j21_pii_scrub",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, '{_PII_RE}', '[PII]', 'g'),
                        '{_DENY_RE}', '[TERM]', 'g') AS scrubbed,
         len(regexp_extract_all(text, '{_PII_RE}')) AS n_pii,
         len(regexp_extract_all(text, '{_DENY_RE}')) AS n_deny
  FROM documents)
SELECT doc_id, n_pii, n_deny, md5(scrubbed) AS scrubbed_md5 FROM s
""",
)
def j21_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / sensitive-term scrubbing: redact email + phone patterns
    and a denylist of terms, with per-doc audit counts.  The corpus
    plants no real PII (n_pii = 0 throughout — the regex path is
    still exercised end-to-end), so the denylist terms provide the
    non-trivial replacements the oracle hash checks.

    Pure per-row regexp work inside the scan stage (codegen'd, no
    shuffle, no UDF); the patterns stay in the ASCII subset where
    Java regex and RE2 agree.  At 100 TB this runs at scan speed and
    is where you'd swap in a real PII model via mapInPandas."""
    d = t(spark, sf_dir, "documents")
    scrub = F.regexp_replace(
        F.regexp_replace("text", F.lit(_PII_RE), F.lit("[PII]")),
        F.lit(_DENY_RE),
        F.lit("[TERM]"),
    )
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_RE)).alias("n_pii"),
        F.regexp_count("text", F.lit(_DENY_RE)).alias("n_deny"),
        F.md5(scrub).alias("scrubbed_md5"),
    )


# -------------------------------------------- document chunking


@register(
    "j22_doc_chunk",
    oracle="""
WITH docs AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
              FROM documents),
st AS (SELECT doc_id, w,
              unnest(generate_series(1, greatest(len(w), 1), 48)) AS s
       FROM docs)
SELECT doc_id,
       ((s - 1) // 48)::BIGINT AS chunk_idx,
       len(w[s:s+63]) AS n_tokens,
       md5(array_to_string(w[s:s+63], ' ')) AS chunk_md5
FROM st
""",
)
def j22_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking for context-length-bounded
    training: 64-token chunks on a 48-token stride (16-token
    overlap), the standard "pack long docs into fixed windows"
    step.  Emits (doc_id, chunk_idx, token count, chunk hash).

    Chunking is array arithmetic inside the scan stage — sequence()
    for the starts, slice() per start, one generator explode; no
    shuffle, no UDF, rows grow by ~len/stride.  The same plan at
    100 TB is embarrassingly parallel and the output is what you'd
    feed a tokenizer fleet."""
    # NULL text = the empty document (one empty chunk) — a NULL token
    # array would NULL the chunk hash in Spark but not in the oracle
    # (concat_ws skips NULLs, array_to_string propagates them)
    d = t(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("w")
    )
    starts = F.sequence(F.lit(1), F.greatest(F.size("w"), F.lit(1)), F.lit(48))
    chunk = F.slice(F.col("w"), F.col("s"), 64)
    return (
        d.select("doc_id", "w", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.floor((F.col("s") - 1) / 48).cast("bigint").alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
        )
    )


# ------------------------------------- repetition-based quality


@register(
    "j23_repetition_ratio",
    oracle="""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
              WHERE len(string_split(text, ' ')) >= 2),
bi AS (SELECT doc_id,
              len(w) - 1 AS total2,
              len(list_distinct([w[i] || ' ' || w[i+1]
                                 for i in generate_series(1, len(w) - 1)])) AS d2
       FROM docs),
tc AS (SELECT doc_id, unnest(w) AS tk FROM docs),
cnt AS (SELECT doc_id, tk, count(*) AS c FROM tc GROUP BY doc_id, tk),
top AS (SELECT doc_id, max(c) AS topc, sum(c) AS tot FROM cnt GROUP BY doc_id)
SELECT b.doc_id,
       round(1.0 - b.d2 / CAST(b.total2 AS DOUBLE), 6) AS dup_bigram_frac,
       round(t.topc / CAST(t.tot AS DOUBLE), 6) AS top_token_frac,
       CAST((1.0 - b.d2 / CAST(b.total2 AS DOUBLE)) > 0.3
            OR (t.topc / CAST(t.tot AS DOUBLE)) > 0.2 AS INT) AS low_quality
FROM bi b JOIN top t USING (doc_id)
""",
)
def j23_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: duplicate-bigram
    fraction (1 - distinct/total bigrams) and top-token mass
    fraction per document, with a low-quality flag at the published
    thresholds (dup bigrams > 0.3, single token > 20% of mass).

    Two independent per-doc passes: bigram stats are pure array
    expressions in the scan stage (zero shuffle); the token-mode
    pass explodes and hash-aggregates on (doc_id, token) — a
    partial+final agg keyed by doc, the classic word-count shape
    whose map-side combine keeps shuffle volume at distinct-token
    level.  Both engines compute int/int divisions in the same
    order → bit-identical before the 6dp round."""
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("w"))
        .where(F.size("w") >= 2)
    )
    bi = d.select(
        "doc_id",
        (F.size("w") - 1).alias("total2"),
        F.size(shingles(F.col("w"), 2)).alias("d2"),
    )
    top = (
        d.select("doc_id", F.explode("w").alias("tk"))
        .groupBy("doc_id", "tk")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("topc"), F.sum("count").alias("tot"))
    )
    dup = F.lit(1.0) - F.col("d2") / F.col("total2").cast("double")
    tf = F.col("topc") / F.col("tot").cast("double")
    return bi.join(top, "doc_id").select(
        "doc_id",
        F.round(dup, 6).alias("dup_bigram_frac"),
        F.round(tf, 6).alias("top_token_frac"),
        ((dup > 0.3) | (tf > 0.2)).cast("int").alias("low_quality"),
    )


# ------------------------------------------- corpus resharding


@register(
    "j24_corpus_reshard",
    oracle="""
SELECT CAST(('0x' || substr(md5(text), 1, 2))::BIGINT % 32 AS INT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
""",
)
def j24_corpus_reshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus resharding: content-hash each document
    into 32 shards (md5 prefix, engine-portable) and report shard
    occupancy — the "shuffle the corpus into N stable training
    shards" step, where hash-on-content both balances shard sizes
    and makes placement reproducible across engines and runs.

    The repartition(32, shard_id) IS the reshard; the occupancy agg
    then reuses that exchange instead of adding its own (Catalyst
    sees the child partitioning already satisfies the grouping).
    At 100 TB each shard lands as one writer task's output —
    this plus a .write.partitionBy is the whole reshard job."""
    d = t(spark, sf_dir, "documents")
    shard = (F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("bigint") % 32).cast(
        "int"
    )
    return (
        d.select(shard.alias("shard_id"), "n_chars")
        .repartition(32, "shard_id")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ------------------------------------------- SemDeDup-style semantic dedup


@register(
    "j26_semdedup",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
           WHERE {EMB_ADMIT_SQL}),
{_SUBCELL_CTES},
dup AS (
  SELECT DISTINCT a.vec_id
  FROM e a
  JOIN scodes sa ON sa.vec_id = a.vec_id
  JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
  JOIN scodes sb ON sb.vec_id = b.vec_id AND sb.scode = sa.scode
  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
)
SELECT e.vec_id, e.label,
       CAST(e.vec_id IN (SELECT vec_id FROM dup) AS INT) AS is_dup
FROM e
""",
)
def j26_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: within each cluster,
    mark a vector as duplicate when an earlier (smaller-id) cluster
    member sits within cosine ≥ τ=0.4.  Labels stand in for k-means
    cluster ids (the same deterministic coarse quantizer as j9b) —
    the point of SemDeDup is exactly that the quadratic pair search
    is CLUSTER-bounded, never corpus-bounded.

    Spark plan: equi-join on the cluster key co-partitions both
    sides (one shuffle each), the cosine predicate filters inside
    the join, and a left-semi probe marks survivors — no driver
    collection.  At 100 TB with balanced clusters of c members,
    work is n·c instead of n²; skewed clusters hit AQE's skew-join
    split.  τ sits far from any data cosine (corpus max ~0.51,
    noise <0.2 — SURVEY §testdata), so the ~1-ulp expression-vs-
    oracle drift can't flip a pair.

    "n·c not n²" only holds when the cell COUNT scales with n —
    labels are fixed-cardinality, so the round-9 10× soak measured
    the label-only pairing at 78× exec on 10× data.  Beyond
    _CELL_TARGET·2 vectors the pair key deepens to (label, scode)
    via the count-adaptive subcell quantizer (block comment above
    _CELL_TARGET; scode bits are computed on the RAW vector in both
    engines — sign projections are scale-invariant, but the decimal
    pin must see identical inputs).  A true duplicate pair split
    across a subcell boundary is missed — the standard SemDeDup/IVF
    recall-for-cost trade, mirrored exactly in the oracle.  The trade
    is quantifiable: a pair at angle θ survives one random hyperplane
    with prob 1-θ/π, so same-subcell recall is (1-θ/π)^nb — ~0.81 at
    cos 0.95 / nb 2, eroding as nb deepens.  Restoring it (multi-probe
    or Hamming-≤1 candidate cells) multiplies pair work by ~(nb+1),
    which re-breaks the linear 10×-soak posture; a production system
    wanting both picks data-adaptive cells (k-means over the corpus,
    which this engine's label column stands in for) rather than
    random hyperplanes.  Cost was chosen deliberately here.
    """
    from big_data_fknn_spark.functions.distance import dot, l2_norm

    # cached: the quantizer's count() and the normalize pass would
    # otherwise each re-scan embeddings (j9b already does this)
    raw = cached(embeddings_d(spark, sf_dir))
    nb, scodes = _subcell_codes(spark, raw)

    # Normalize ONCE per vector (n rows), so the per-pair predicate is
    # a single dot product instead of dot + two norms — the pair side
    # is the n·c term, the normalization is the n term; same float
    # story (τ=0.4 sits ≥0.1 from every data cosine, drift ~1e-15).
    e = raw.select(
        "vec_id",
        F.transform("emb", lambda x: x / l2_norm(F.col("emb"))).alias("v"),
        "label",
    )
    if nb:  # super-threshold: pairs must also share a subcell
        e = e.join(scodes, "vec_id")
    a, b = e.alias("a"), e.alias("b")
    pair_on = (F.col("a.label") == F.col("b.label")) & (
        F.col("b.vec_id") < F.col("a.vec_id")
    )
    if nb:
        pair_on = pair_on & (F.col("a.scode") == F.col("b.scode"))
    dup = (
        a.join(b, pair_on)
        .where(dot(F.col("a.v"), F.col("b.v")) >= 0.4)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        e.join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.coalesce("hit", F.lit(0)).cast("int").alias("is_dup"),
        )
    )


# ------------------------------------- CCNet-style LM quality filter


@register(
    "j27_unigram_logprob",
    oracle="""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS tk FROM docs),
freq AS (SELECT tk, count(*)::DOUBLE AS cnt FROM tok GROUP BY tk),
tot AS (SELECT sum(cnt) AS n FROM freq),
j AS (
  SELECT t.doc_id, -ln(f.cnt / (SELECT n FROM tot)) AS nll
  FROM tok t JOIN freq f USING (tk)
)
SELECT doc_id, count(*) AS n_tokens, round(avg(nll), 6) AS avg_nll
FROM j GROUP BY doc_id
""",
)
def j27_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality proxy: per-document mean
    negative log-probability under the corpus's own unigram LM
    (self-inclusive counts — fully deterministic, no smoothing
    constant to disagree on).  High avg_nll = rare-token soup =
    likely noise; low = repetitive boilerplate.

    Plan: one explode → token-count aggregate (the vocabulary,
    orders of magnitude smaller than the corpus) → re-join onto the
    token stream → per-doc mean.  The re-join carries no forced
    broadcast hint: vocab is Heaps-sublinear but unbounded, so at
    100 TB it can exceed the 8 GB broadcast cap — AQE broadcasts it
    when actually small and otherwise both sides co-partition on the
    token key.  ln() differs ≤1 ulp between engines; per-doc sums
    of ~10² terms keep that drift ~9 orders below the 6dp round.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("w"))
    tok = d.select("doc_id", F.explode("w").alias("tk"))
    freq = tok.groupBy("tk").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n"))
    nll = (
        tok.join(freq, "tk")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("cnt") / F.col("n"))).alias("nll"))
    )
    return nll.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("nll"), 6).alias("avg_nll"),
    )


# --------------------------------------- end-to-end corpus filter


@register(
    "j28_corpus_filter",
    oracle="""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bi AS (
  SELECT doc_id, len(w) AS nt,
         CASE WHEN len(w) >= 2 THEN
           1.0 - len(list_distinct([w[i] || ' ' || w[i+1]
                                    for i in generate_series(1, len(w) - 1)]))
                 / CAST(len(w) - 1 AS DOUBLE)
         ELSE 0.0 END AS dup2
  FROM docs),
tc AS (SELECT doc_id, unnest(w) AS tk FROM docs),
cnt AS (SELECT doc_id, tk, count(*) AS c FROM tc GROUP BY doc_id, tk),
top AS (SELECT doc_id, max(c) / CAST(sum(c) AS DOUBLE) AS topf FROM cnt GROUP BY doc_id),
m AS (SELECT b.doc_id, b.nt, b.dup2, t.topf FROM bi b JOIN top t USING (doc_id))
SELECT doc_id, nt AS n_tokens,
       CASE WHEN nt < 40 THEN 'too_short'
            WHEN dup2 > 0.08 THEN 'repetition'
            WHEN topf > 0.1 THEN 'top_token'
            ELSE 'ok' END AS reason,
       CAST(nt >= 40 AND dup2 <= 0.08 AND topf <= 0.1 AS INT) AS keep
FROM m
""",
)
def j28_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus admission filter: the composition a
    real data pipeline runs as ONE pass — length gate, Gopher
    repetition gate (duplicate-bigram fraction), and top-token-mass
    gate, emitting keep/drop plus the first failing rule.

    All signals are doc-local: bigram stats stay pure array
    expressions in the scan stage; only the token-mode pass
    aggregates (the word-count shape, map-side combined on doc_id).
    One scan, one shuffle keyed by doc — at 100 TB the filter's cost
    is the read itself, which is the point: admission filtering must
    be IO-bound, never compute- or shuffle-bound.  Ratios are
    small-int divisions → bit-identical across engines, so the rule
    cascade can compare unrounded.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("w"))
    bi = d.select(
        "doc_id",
        F.size("w").alias("nt"),
        F.when(
            F.size("w") >= 2,
            1.0
            - F.size(shingles(F.col("w"), 2)).cast("double")
            / (F.size("w") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("dup2"),
    )
    top = (
        d.select("doc_id", F.explode("w").alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c") / F.sum("c").cast("double")).alias("topf"))
    )
    m = bi.join(top, "doc_id")
    reason = (
        F.when(F.col("nt") < 40, "too_short")
        .when(F.col("dup2") > 0.08, "repetition")
        .when(F.col("topf") > 0.1, "top_token")
        .otherwise("ok")
    )
    keep = (
        (F.col("nt") >= 40) & (F.col("dup2") <= 0.08) & (F.col("topf") <= 0.1)
    ).cast("int")
    return m.select(
        "doc_id", F.col("nt").alias("n_tokens"), reason.alias("reason"), keep.alias("keep")
    )


# ------------------------------- J30. random projection (dim reduction)


@register(
    "j30_random_projection",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE {EMB_ADMIT_SQL}),
cells AS (
  SELECT e.vec_id, dims.j, pos.i,
         e.v[pos.i] * CASE WHEN ('0x' || substr(md5(pos.i || '_' || dims.j), 1, 1))::INT % 2 = 0
                           THEN 1 ELSE -1 END AS term
  FROM e
  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) pos
  CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS j) dims
)
SELECT vec_id, j, round(sum(term) / 8, 6) AS proj
FROM cells GROUP BY vec_id, j
""",
)
def j30_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign (Achlioptas) random projection 64 → 8 dims — the
    dimensionality reducer in front of LSH / coarse quantizers at
    scale.  The ±1 projection matrix is derived from md5 parity of
    the (row, column) index pair, so both engines materialize the
    IDENTICAL matrix with no RNG to disagree on; scaling by
    1/sqrt(64) = 1/8 is exact.

    Plan: the 64×8 sign matrix is a 512-row broadcast; the corpus
    side posexplodes once and partial-aggregates on (vec_id, j) —
    shuffle rows = 8 per vector, the projected width, not the input
    width.  64-term double sums drift ~1e-15, nine orders under the
    6dp round.
    """
    e = embeddings_d(spark, sf_dir)
    pos = e.select("vec_id", F.posexplode("emb").alias("p0", "x")).select(
        "vec_id", (F.col("p0") + 1).alias("i"), "x"
    )
    dims = spark.range(1, 9).select(F.col("id").alias("j"))
    sign = F.when(
        F.conv(
            F.substring(F.md5(F.concat_ws("_", F.col("i"), F.col("j"))), 1, 1),
            16,
            10,
        ).cast("int")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    cells = pos.crossJoin(F.broadcast(dims)).select(
        "vec_id", "j", (F.col("x") * sign).alias("term")
    )
    return cells.groupBy("vec_id", "j").agg(
        F.round(F.sum("term") / 8, 6).alias("proj")
    )


# ----------------------------- J31. dedup capstone: the shipped corpus


@register(
    "j31_dedup_survivors",
    oracle=f"""
WITH RECURSIVE {{doc_ctes}},
pairs AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
  FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= {{tau}}),
edges AS (SELECT doc_i AS src, doc_j AS dst FROM pairs
          UNION ALL
          SELECT doc_j AS src, doc_i AS dst FROM pairs),
reach AS (
  SELECT DISTINCT src AS node, src AS lab FROM edges
  UNION
  SELECT e.dst AS node, r.lab AS lab FROM edges e JOIN reach r ON r.node = e.src),
comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       CAST(coalesce(c.cluster_id, d.doc_id) = d.doc_id AS INT) AS kept
FROM documents d LEFT JOIN comp c USING (doc_id)
""".format(doc_ctes=_DOC_CTES, tau=_TAU),
)
def j31_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's deliverable: the FULL corpus labeled with
    its canonical cluster id and a kept flag — exactly the table a
    training run reads (``WHERE kept = 1``).  Composition capstone:
    exact 3-gram-Jaccard pairs (j8b's inverted index) → transitive
    clusters (j8f's min-label propagation) → left join back onto
    documents, singletons surviving as their own canonical.

    The final join is by doc_id against the cluster table.  On real
    web corpora the near-dup subset is 20-50% of documents — corpus
    scale, NOT broadcastable — so the label join is a plain doc_id
    equi-join that co-partitions with the corpus scan; AQE broadcasts
    it only when the dup subset is genuinely small.
    """
    clusters = j8f_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = t(spark, sf_dir, "documents").select("doc_id")
    lab = F.coalesce("cluster_id", "doc_id")
    return (
        docs.join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            lab.alias("cluster_id"),
            (lab == F.col("doc_id")).cast("int").alias("kept"),
        )
    )


# ------------------------------------------------------- J32. BM25


_BM25_TERMS = ("table", "hash", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS_SQL = ", ".join(f"'{q}'" for q in _BM25_TERMS)


@register(
    "j32_bm25",
    oracle=f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS term FROM docs),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl, count(*) AS n FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
             * tf.tf * ({_BM25_K1} + 1)
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                + {_BM25_B} * dl.dl / stats.avgdl))) AS score,
         count(*) AS n_terms
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id),
ranked AS (
  SELECT doc_id, n_terms, round(score, 6) AS score,
         row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rn
  FROM scored)
SELECT doc_id, n_terms, score, rn FROM ranked WHERE rn <= 20
""",
)
def j32_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval: score every document against a fixed query
    term set (k1=1.2, b=0.75) and return the top 20.

    Every floating input (tf, df, doclen, avgdl, N) derives from
    exact integer counts, so both engines feed identical doubles
    into ln/division — drift is ulp-level, far inside the 6dp round.
    The rank key is the *rounded* score (+ doc_id), so the top-20
    cut is engine-independent.

    Scale: tf/df/doclen are partial-aggregable; the df re-join is an
    unhinted term equi-join (vocab is unbounded at corpus scale — AQE
    broadcasts it only when actually small); the query
    filter prunes the token stream before the doc-keyed shuffle.
    The final top-20 is a TakeOrderedAndProject, never a global
    sort."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    # (N, avgdl) as an IN-PLAN broadcast single-row aggregate
    # (round-12, the j10 device): the old ``dl.agg(...).first()`` ran
    # a full tokenize + doc-length aggregation over the corpus as a
    # separate driver job at construct, only to re-run the identical
    # subtree inside the query; the scalar agg now rides dl's own
    # doc_id exchange via ReuseExchange and broadcasts one row.
    # Arithmetic is unchanged: sum/count are exact longs either way,
    # and avgdl = tot/N is the same IEEE double division the Python
    # float() pair performed.  Empty corpus → N = 0 → the WHEN guard
    # keeps avgdl at the old 1.0 placeholder (downstream is empty
    # anyway, it just must not divide by zero).
    stats = dl.agg(
        F.sum("dl").alias("__tot"), F.count(F.lit(1)).alias("__nd")
    )
    ndd = F.col("__nd").cast("double")
    avgdl = F.when(
        F.col("__nd") > 0, F.col("__tot").cast("double") / ndd
    ).otherwise(F.lit(1.0))
    tf = (
        tok.where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((ndd - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    part = (
        idf
        * F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
        )
    )
    scored = (
        tf.join(df, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(part), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("doc_id", "n_terms", "score", "rn")
    )


# -------------------------------------------- J33. inverted index


@register(
    "j33_inverted_index",
    oracle="""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS term FROM docs),
postings AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf,
         min(doc_id) AS first_doc
  FROM tok GROUP BY term),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY df DESC, term) AS rn
  FROM postings)
SELECT term, df, cf, first_doc, rn FROM ranked WHERE rn <= 100
""",
)
def j33_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → postings statistics (document
    frequency, collection frequency, first posting), top 100 terms
    by df.  The postings aggregation is the search-index core of a
    retrieval stack; here it stays relational so the oracle can
    verify it value-for-value.

    Scale: one token-keyed shuffle with full map-side combine (the
    per-partition partial agg collapses each term to constant
    state); posting *lists* at 100 TB would be collect_list per
    term-shard written to a key-sorted store — same shuffle shape,
    bigger payload.  The vocabulary is Zipf-bounded, orders of
    magnitude smaller than the corpus."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    postings = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("cf"),
        F.min("doc_id").alias("first_doc"),
    )
    w = Window.orderBy(F.col("df").desc(), F.col("term"))
    return (
        postings.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 100)
        .select("term", "df", "cf", "first_doc", "rn")
    )


# ---------------------------------------- J34. fuzzy edit-dist dedup

_J34_Q = 8  # shingle length (chars).  Gram LENGTH is the lever that
# keeps buckets honest: 4-grams have a ~|alphabet|⁴ vocabulary, so
# the corpus-wide md5-minimal grams are FREQUENT grams (' the',
# 'tion') and unrelated docs containing them share minhash minima —
# measured max block 542 on a 64k Zipf corpus.  8-grams push the
# vocabulary to ~|alphabet|⁸: a shared gram now implies a shared
# 8-char substring, so collisions mean genuine local similarity.
_J34_NH = 24  # minhashes over prefix 8-grams
_J34_R = 2  # rows/band → 12 bands; P(catch) ≈ 1-(1-J²)¹² per pair:
# ≈ .98 at gram-jac .54 (an edit-dist-2 pair of 60-char prefixes),
# ≈ 1-2e-5 at .8.
#
# BINNED rows (one-permutation-hashing style): row j of a band takes
# its min over ONLY the grams whose content hash lands in bin j, not
# over all grams.  With plain banding a single POPULAR shared gram
# (every "<Zipf-token> w…" prefix shares one 8-gram) can win ALL r
# rows of a band whenever its fixed md5 happens to be small — the
# value is corpus-constant, so one lucky (hash, gram) combo captures
# a constant FRACTION of that gram's Zipf mass into one bucket
# (measured: a 567-doc block from md5('12#tok008 w') starting
# '01c8…').  Disjoint bins make that structurally impossible: a
# shared gram determines at most ONE row; the other row's min comes
# from the doc's remaining grams, which differ across the mass.  A
# full band key is shared only by docs sharing ≥ r grams in DISTINCT
# bins — genuine local similarity — while near-dup recall keeps the
# ≈ J^r per-band rate (per-bin min-match probability is ≈ J).

_J34_MAXDF = 64  # stop-gram cap: grams occurring in more than this
# many documents are dropped before minhashing.  A Zipf-shared prefix
# REGION spawns a geometric hierarchy of semi-popular grams
# ("tok000 w" in 17% of docs, "ok000 w2" in 1.7%, …), so even binned
# rows can be captured together by two lucky-small (hash, gram)
# md5s — measured: a 108-doc block from exactly that pairing.  With
# the cap, any gram that can drive a bucket collision is shared by
# ≤ 64 docs, so shared-gram blocks are bounded by a CONSTANT
# independent of corpus size and Σ|block|² is provably linear
# (lucky-event count ∝ #grams ∝ n, each contributing ≤ 64²).  Docs
# whose every gram is that frequent are boilerplate-prefixed: their
# pair set is output-quadratic by definition and belongs to exact /
# whole-document dedup (j7/j8), not edit-distance blocking — they
# emit no candidates here.

# bin of a gram: first md5 hex digit mod r — cheap, content-derived,
# identical in both engines
_J34_BIN_SQL = (
    "(strpos('0123456789abcdef', substr(md5('bin#' || s), 1, 1)) - 1) % {r}"
).format(r=_J34_R)


def _j34_minhash_sql():
    mins = ",\n         ".join(
        f"min(CASE WHEN bin = {i % _J34_R} THEN md5('{i}#' || s) END) AS h{i}"
        for i in range(_J34_NH)
    )
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({cat}) AS key FROM mh".format(
            b=b,
            cat=" || '|' || ".join(
                f"coalesce(h{_J34_R * b + r}, 'x')" for r in range(_J34_R)
            ),
        )
        for b in range(_J34_NH // _J34_R)
    )
    return mins, bands


_J34_MINS, _J34_BANDS = _j34_minhash_sql()


def _j34_band_table(d: DataFrame) -> DataFrame:
    """(doc_id, prefix) → (doc_id, band, key): 8-gram shingles →
    bin-partitioned minhash rows → one md5 band key per band.  Shared
    by the j34 query and the Zipf block-size stress so the stress
    measures the exact key the query joins on.

    NULL prefixes are dropped BEFORE shingling (round-6 advisor): a
    NULL-text doc otherwise yields one s=NULL tok row that survives
    the DF-cap anti-join (NULL never equi-matches), giving an all-NULL
    signature and hence the identical all-'x' band key in every band —
    every NULL-text doc would collide pairwise with every other
    (quadratic candidates on dirty corpora) even though the final
    output is unaffected (levenshtein(NULL, …) is filtered)."""
    tokd = d.where(F.col("prefix").isNotNull()).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length(prefix) - {_J34_Q - 1}, 1)),"
                    f" i -> substring(prefix, i, {_J34_Q}))"
                )
            )
        ).alias("s"),
    )
    # anti-join against the frequent set (the small Zipf head; AQE
    # broadcasts it when runtime size allows — see _lsh_candidates)
    freq = tokd.groupBy("s").count().where(F.col("count") > _J34_MAXDF).select("s")
    tok = tokd.join(freq, "s", "left_anti").withColumn(
        "bin",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("bin#"), F.col("s"))), 1, 1), 16, 10
        ).cast("int")
        % _J34_R,
    )
    mh = tok.groupBy("doc_id").agg(
        *[
            F.min(
                F.when(
                    F.col("bin") == i % _J34_R,
                    F.md5(F.concat(F.lit(f"{i}#"), F.col("s"))),
                )
            ).alias(f"h{i}")
            for i in range(_J34_NH)
        ]
    )
    band_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.coalesce(F.col(f"h{_J34_R * b + r}"), F.lit("x"))
                        for r in range(_J34_R)
                    ],
                )
            )
            for b in range(_J34_NH // _J34_R)
        ]
    )
    return mh.select("doc_id", F.posexplode(band_arr).alias("band", "key"))


@register(
    "j34_fuzzy_editdist",
    oracle=f"""
WITH b0 AS (
  SELECT doc_id, lang, substr(text, 1, 60) AS prefix FROM documents
),
tok AS (
  SELECT doc_id,
         unnest([substr(prefix, i, {_J34_Q})
                 for i in generate_series(1, greatest(len(prefix) - {_J34_Q - 1}, 1))]) AS s
  FROM b0 WHERE prefix IS NOT NULL
),
tokd AS (
  SELECT DISTINCT doc_id, s FROM tok
),
freq AS (
  SELECT s FROM tokd GROUP BY s HAVING count(*) > {_J34_MAXDF}
),
tb AS (
  SELECT doc_id, s, {_J34_BIN_SQL} AS bin FROM tokd ANTI JOIN freq USING (s)
),
mh AS (
  SELECT doc_id,
         {_J34_MINS}
  FROM tb GROUP BY doc_id),
bands AS (
{_J34_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS i, c.doc_id AS j
  FROM bands a JOIN bands c ON a.band = c.band AND a.key = c.key
  JOIN b0 x ON x.doc_id = a.doc_id
  JOIN b0 y ON y.doc_id = c.doc_id
  WHERE a.doc_id < c.doc_id AND x.lang = y.lang)
SELECT cand.i AS doc_a, cand.j AS doc_b,
       levenshtein(x.prefix, y.prefix) AS edit_dist
FROM cand JOIN b0 x ON x.doc_id = cand.i JOIN b0 y ON y.doc_id = cand.j
WHERE levenshtein(x.prefix, y.prefix) <= 30
""",
)
def j34_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection: Levenshtein over 60-char
    document prefixes, with LSH blocking — character 8-gram shingles
    of the prefix → 24 MinHashes → 12 bands of 2 → candidates share a
    (lang, band, key) bucket → exact Levenshtein ≤ 30 verify.

    Scale: this replaces the r2–r5 (lang, first-token) blocking key,
    whose block sizes are Zipfian on real text (sentence-initial
    tokens follow Zipf, so the top block grows linearly with the
    corpus and Σ|block|² is quadratic — measured sf0.01→sf0.1: max
    block 12→93, Σ|block|² 2710→220k).  A MinHash band key is a
    CONTENT-DERIVED value in a ~2^128 domain: two docs share one only
    when every per-bin minimum matches (probability ≈ gram-Jaccard²
    per band), so bucket sizes track true near-duplicate density, not
    corpus size — the banded shape of j8, hardened three ways: 8-char
    grams (not 4 — see _J34_Q: short grams make FREQUENT grams the
    md5 minima), disjoint-bin rows (see _J34_R: plain banding lets
    one popular shared gram with a lucky-small fixed md5 capture a
    constant fraction of its Zipf mass into one bucket), and a
    stop-gram document-frequency cap (see _J34_MAXDF: it bounds any
    shared-gram block by a constant, making Σ|block|² provably
    linear in corpus size).  A fixed-
    width SimHash band (j8c) was NOT used: its 2^bits value domain is
    fixed, so uniform hashing alone makes blocks grow ~n/2^bits and
    Σ|block|² stays quadratic.  Candidate recall is probabilistic by
    design (P(catch) ≈ 1-(1-J²)¹² per pair: ≈ .98 at gram-jac .54 —
    an edit-dist-2 pair) and BOTH engines run the identical pipeline,
    so parity is exact.
    Spark's thresholded levenshtein(a, b, 30) was measured SLOWER
    than the plain DP here (12.2 s vs 7.8 s at sf0.1 — per-row
    banding overhead), so the plain form stays.  ASCII corpus →
    Spark's char-based and DuckDB's distances agree exactly.
    Block-size boundedness is pinned by the Zipf-first-token stress
    (tests/test_scale_stress.py) at two corpus scales."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 60).alias("prefix")
    )
    d = cached(d)
    bands = _j34_band_table(d).join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "band", "key"
    )
    a, c = bands.alias("a"), bands.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.key") == F.col("c.key"))
            & (F.col("a.lang") == F.col("c.lang"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        .distinct()
    )
    x = d.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    y = d.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("pa"), F.col("pb")).alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= 30)
        .select("doc_a", "doc_b", "edit_dist")
    )


@register(
    "j35_seq_packing",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
  FROM documents
), packed AS (
  SELECT lang, doc_id, n_tok,
         CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / 2048) AS BIGINT) AS bin_id
  FROM toks
)
SELECT lang, bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed
GROUP BY lang, bin_id
""",
)
def j35_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign documents to fixed token
    budgets (2048/bin) by CONTIGUOUS offset — a doc starts in the bin
    where its running-token offset lands.  Deterministic by
    construction (doc_id order within language), unlike first-fit
    heuristics whose output depends on visit order across workers.
    One shuffle on lang serves both the running sum and the bin
    rollup; at 100 TB each language streams independently and the
    window state is a single counter per partition."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = d.withColumn(
        "bin_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(2048)),
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "j38_mixture_rebalance",
    oracle="""
WITH counts AS (
  SELECT source, count(*) AS n_s FROM documents GROUP BY source
), target AS (
  SELECT min(n_s) AS tgt FROM counts
), rated AS (
  SELECT c.source, c.n_s,
         round(CAST(t.tgt AS DOUBLE) / c.n_s, 6) AS rate
  FROM counts c CROSS JOIN target t
)
SELECT d.source,
       max(r.n_s) AS n_before,
       count(*) AS n_after,
       max(r.rate) AS rate
FROM documents d JOIN rated r ON d.source = r.source
WHERE CAST(strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1 AS DOUBLE)
      + CAST(strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1 AS DOUBLE) / 16
      < r.rate * 16
GROUP BY d.source
""",
)
def j38_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven corpus mixture rebalancing: compute each source's
    row count, derive a per-source acceptance rate that equalizes the
    mixture to the smallest source, and admit documents through a
    deterministic md5-bucket test at that rate.  Unlike j17 (fixed
    per-stratum rates) the rates here COME FROM the data — the
    two-pass shape every production resampler has: a tiny aggregate
    (one row per source) broadcast back onto the stream.  The stream
    itself never shuffles; the admission test runs in the scan stage.
    256 md5 buckets quantize the rate to ~0.4% granularity —
    deterministic across engines, runs, and partitionings."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tgt = counts.agg(F.min("n_s").alias("tgt"))
    rated = counts.crossJoin(F.broadcast(tgt)).select(
        "source",
        "n_s",
        F.round(F.col("tgt").cast("double") / F.col("n_s"), 6).alias("rate"),
    )
    hexd = lambda i: (  # noqa: E731 — md5 hex digit i as 0..15
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), i, 1), 16, 10
        ).cast("double")
    )
    bucket = hexd(1) + hexd(2) / 16  # 256 evenly spaced values in [0,16)
    return (
        d.join(F.broadcast(rated), "source")
        .where(bucket < F.col("rate") * 16)
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_before"),
            F.count(F.lit(1)).alias("n_after"),
            F.max("rate").alias("rate"),
        )
    )


@register(
    "j39_feature_hashing",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE doc_id <= 200
)
SELECT doc_id,
       CAST(strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1 AS BIGINT) * 16
       + CAST(strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1 AS BIGINT) AS bucket,
       count(*) AS cnt
FROM tok
GROUP BY doc_id, bucket
""",
)
def j39_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (HashingTF's core): tokens map straight to
    one of 256 feature buckets through a hash — NO vocabulary build,
    which at 100 TB is the difference between a stateless one-pass
    featurizer and a second full scan + broadcast of a giant vocab
    (j27 shows the vocab-ful alternative).  Collisions are accepted
    by design.  Bucket = first two md5 hex digits, reproduced
    digit-for-digit in SQL, so unlike MLlib's murmur3 HashingTF this
    variant is fully value-oracled; the output is the sparse
    (doc, bucket, count) triplet form."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") <= 200)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    hexd = lambda i: (  # noqa: E731
        F.conv(F.substring(F.md5("w"), i, 1), 16, 10).cast("bigint")
    )
    return (
        tok.select("doc_id", (hexd(1) * 16 + hexd(2)).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "j42_naive_bayes",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text <> ''
),
tr_doc AS (SELECT doc_id, lang FROM documents
           WHERE text <> '' AND doc_id % 5 <> 0),
tr_tok AS (SELECT * FROM tok WHERE doc_id % 5 <> 0),
classes AS (
  SELECT lang AS cls, ln(count(*) * 1.0 / (SELECT count(*) FROM tr_doc)) AS prior
  FROM tr_doc GROUP BY lang
),
vocab AS (SELECT DISTINCT w FROM tr_tok),
vsize AS (SELECT count(*) AS v FROM vocab),
tot AS (SELECT lang AS cls, count(*) AS tot_c FROM tr_tok GROUP BY lang),
cnt AS (SELECT lang AS cls, w, count(*) AS c FROM tr_tok GROUP BY lang, w),
lik AS (
  SELECT vb.w, t.cls,
         ln((coalesce(c.c, 0) + 1.0) / (t.tot_c + vs.v)) AS l
  FROM vocab vb CROSS JOIN tot t CROSS JOIN vsize vs
  LEFT JOIN cnt c ON c.w = vb.w AND c.cls = t.cls
),
dflt AS (
  SELECT t.cls, ln(1.0 / (t.tot_c + vs.v)) AS l0 FROM tot t CROSS JOIN vsize vs
),
te_doc AS (SELECT doc_id, lang FROM documents
           WHERE text <> '' AND doc_id % 5 = 0),
te_tok AS (SELECT doc_id, w FROM tok WHERE doc_id % 5 = 0),
seen AS (
  SELECT tt.doc_id, l.cls, sum(l.l) AS s
  FROM te_tok tt JOIN lik l ON l.w = tt.w
  GROUP BY tt.doc_id, l.cls
),
oov AS (
  SELECT tt.doc_id, count(*) AS n_oov
  FROM te_tok tt ANTI JOIN vocab vb ON vb.w = tt.w
  GROUP BY tt.doc_id
),
scored AS (
  SELECT d.doc_id, d.lang, c.cls,
         c.prior + coalesce(s.s, 0) + coalesce(o.n_oov, 0) * f.l0 AS score
  FROM te_doc d
  CROSS JOIN classes c
  JOIN dflt f ON f.cls = c.cls
  LEFT JOIN seen s ON s.doc_id = d.doc_id AND s.cls = c.cls
  LEFT JOIN oov o ON o.doc_id = d.doc_id
),
pick AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY round(score, 6) DESC, cls
  ) AS r
  FROM scored
)
SELECT doc_id, lang, cls AS pred, round(score, 4) AS logscore
FROM pick WHERE r = 1
""",
)
def j42_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes text classifier, trained and applied in
    one declarative plan — the canonical shared-nothing classifier
    (MLlib NaiveBayes's exact math, spelled as aggregates so every
    bit is DuckDB-oracle-able, unlike the engine-internal MLlib fit).

    Train (doc_id % 5 != 0): per-class priors, Laplace-smoothed
    token log-likelihoods ln((c+1)/(tot_c+V)) over the (vocab x
    class) grid.  Score (held-out docs): prior + SUM seen-token
    log-liks + n_oov * ln(1/(tot_c+V)); argmax with 6dp-rounded
    scores, ties to the lexicographically smallest class — identical
    rank order in both engines (float drift ~1e-13 against gaps of
    O(0.01)).

    Scale shape: the model is two aggregates (V x k likelihoods, k
    priors) re-joined onto the exploded token stream, which itself
    shuffles once on (doc, class).  The k-row per-class tables
    (priors, totals, defaults) keep their broadcast hints — bounded
    by the label enum — but the V-sized likelihood and vocab tables
    are joined unhinted: V grows with the corpus, so AQE decides
    (broadcast when small, co-partitioned shuffle on the token key
    when not).  Training cost is one scan of the corpus regardless
    of k; scoring is map-side except the final per-doc argmax."""
    d = t(spark, sf_dir, "documents").where(F.col("text") != "")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    tr_doc = d.where(F.col("doc_id") % 5 != 0).select("doc_id", "lang")
    tr_tok = tok.where(F.col("doc_id") % 5 != 0)

    n_train = tr_doc.agg(F.count(F.lit(1)).alias("n"))
    classes = (
        tr_doc.groupBy(F.col("lang").alias("cls"))
        .agg(F.count(F.lit(1)).alias("n_c"))
        .crossJoin(F.broadcast(n_train))
        .select("cls", F.log(F.col("n_c") * 1.0 / F.col("n")).alias("prior"))
    )
    vocab = tr_tok.select("w").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    tot = tr_tok.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).alias("tot_c")
    )
    cnt = tr_tok.groupBy(F.col("lang").alias("cls"), "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    lik = (
        vocab.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vsize))
        .join(cnt, ["w", "cls"], "left")
        .select(
            "w",
            "cls",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                / (F.col("tot_c") + F.col("v"))
            ).alias("l"),
        )
    )
    dflt = (
        tot.crossJoin(F.broadcast(vsize))
        .select("cls", F.log(1.0 / (F.col("tot_c") + F.col("v"))).alias("l0"))
    )

    te_doc = d.where(F.col("doc_id") % 5 == 0).select("doc_id", "lang")
    te_tok = tok.where(F.col("doc_id") % 5 == 0).select("doc_id", "w")
    seen = (
        te_tok.join(lik, "w")
        .groupBy("doc_id", "cls")
        .agg(F.sum("l").alias("s"))
    )
    oov = (
        te_tok.join(vocab, "w", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    scored = (
        te_doc.crossJoin(F.broadcast(classes))
        .join(F.broadcast(dflt), "cls")
        .join(seen, ["doc_id", "cls"], "left")
        .join(oov, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "cls",
            (
                F.col("prior")
                + F.coalesce(F.col("s"), F.lit(0.0))
                + F.coalesce(F.col("n_oov"), F.lit(0)) * F.col("l0")
            ).alias("score"),
        )
    )
    pick = Window.partitionBy("doc_id").orderBy(
        F.round("score", 6).desc(), F.col("cls").asc()
    )
    return (
        scored.withColumn("r", F.row_number().over(pick))
        .where(F.col("r") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("cls").alias("pred"),
            F.round("score", 4).alias("logscore"),
        )
    )


@register(
    "j44_vocab_build",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text <> ''
),
counts AS (SELECT w AS token, count(*) AS cnt FROM tok GROUP BY w),
ranked AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token) AS token_id
  FROM counts
),
tot AS (SELECT sum(cnt) AS n FROM counts)
SELECT r.token_id, r.token, r.cnt,
       round(sum(r.cnt) OVER (ORDER BY r.token_id
                              ROWS UNBOUNDED PRECEDING) * 1.0 / t.n, 6)
         AS coverage
FROM ranked r CROSS JOIN tot t
""",
)
def j44_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary build — the tokenizer-training
    primitive: count every token once over the corpus, assign
    contiguous ids by (count DESC, token ASC) so the mapping is
    deterministic across engines and runs, and report cumulative
    corpus coverage per rank (the curve that decides vocab size:
    "the top-N tokens cover X% of all occurrences").

    Scale shape: the corpus-wide token count is one partial+final
    hash agg (map-side combine does nearly all the work — shuffle
    rows = |vocab| × tasks, never token occurrences), materialized
    once (localCheckpoint).  Round 2 ranked it with a bare global
    window, defended as "|vocab| is bounded" — but over 100 TB of
    raw web text the distinct-token table is NOT small (misspellings
    and unicode junk push raw token types into the 10⁸+ range before
    any truncation), so round 3 routes id assignment AND the
    cumulative-coverage sum through operators/rank.py's
    range-bucketed global_rank: one bucketed window pass emits both
    the exact rank and the inclusive running sum (literal prefix
    offsets per frequency bucket); the corpus-total token count
    falls out of the same per-bucket aggregate — no tot cross-join,
    no single-partition exchange.  j39 is the opposite trade (hash,
    no vocab); j27/j32 consume this table's shape."""
    tok = (
        t(spark, sf_dir, "documents")
        .where(F.col("text") != "")
        .select(F.explode(F.split("text", " ")).alias("token"))
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint(eager=False)
    gr = global_rank(
        counts,
        [(F.col("cnt"), False), ("token", True)],
        rank_col="token_id",
        running_sum=("cnt", "__cum"),
    )
    n_total = int(gr.running_total or 0)
    return gr.df.select(
        F.col("token_id").cast("int").alias("token_id"),
        "token",
        "cnt",
        F.round(F.col("__cum") * 1.0 / F.lit(n_total), 6).alias("coverage"),
    )


@register(
    "x47_training_export",
    oracle="""
WITH base AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS w
  FROM documents WHERE text <> ''
),
admitted AS (
  SELECT doc_id, lang, text, len(w) AS n_tok
  FROM base
  WHERE len(w) >= 20
    AND (SELECT max(c) FROM (
           SELECT count(*) AS c FROM unnest(w) AS t(tok) GROUP BY tok
         )) * 1.0 / len(w) <= 0.30
),
canon AS (
  SELECT doc_id, lang, n_tok,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g'))) AS h
  FROM admitted
),
survivors AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM canon
  ) WHERE rn = 1
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum((n_tok + 47) // 48) AS BIGINT) AS n_chunks
FROM survivors GROUP BY lang
""",
)
def x47_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped-corpus capstone: one declarative plan running the
    whole training-data export — (1) ADMISSION: ≥20 tokens and
    top-token mass ≤ 0.30 (the j28/j23 gates); (2) DEDUP on the j19
    canonical form (lowercase → strip → collapse → md5), smallest
    doc_id survives per hash (j7's WindowGroupLimit shape); (3)
    CHUNK accounting at the j22 geometry (64-token windows, stride
    48 → ⌈n/48⌉ chunks per doc); per-language totals out.

    One scan feeds everything: admission and canonicalization are
    scan-stage expressions, dedup is the single content-hash shuffle
    (WindowGroupLimit forwards one candidate per hash per task), and
    the rollup reuses rows already in flight.  At 100 TB this is the
    nightly job the individual operators exist for — and the whole
    composition stays oracle-checkable end to end, which is the
    repo's core claim: compositions inherit correctness when every
    stage is deterministic."""
    d = t(spark, sf_dir, "documents").where(F.col("text") != "")
    w = F.split("text", " ")
    base = d.select("doc_id", "lang", "text", w.alias("w"), F.size(w).alias("n_tok"))
    top_mass = (
        F.array_max(
            F.transform(
                F.array_distinct("w"),
                lambda tok: F.size(F.filter("w", lambda x: x == tok)),
            )
        )
        * 1.0
        / F.col("n_tok")
    )
    admitted = base.where(
        (F.col("n_tok") >= 20) & (top_mass <= 0.30)
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    canon = admitted.select("doc_id", "lang", "n_tok", F.md5(norm).alias("h"))
    surv_w = Window.partitionBy("h").orderBy("doc_id")
    survivors = (
        canon.withColumn("rn", F.row_number().over(surv_w))
        .where(F.col("rn") == 1)
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum(F.floor((F.col("n_tok") + 47) / 48)).cast("bigint").alias("n_chunks"),
    )


# ----------------------------------------- J48. PMI collocations

_PMI_MIN_COUNT = 5
_PMI_TOP = 50


@register(
    "j48_pmi_bigrams",
    oracle=f"""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
uni AS (
  SELECT unnest(w) AS tok FROM docs),
ucnt AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
nu AS (SELECT count(*) AS n FROM uni),
bg AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)),
bcnt AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
nbg AS (SELECT count(*) AS n FROM bg),
pmi AS (
  SELECT b.w1, b.w2, b.c,
         round(ln((b.c * nu.n * nu.n)::DOUBLE
                  / (nbg.n::DOUBLE * x.c * y.c)), 6) AS pmi
  FROM bcnt b
  JOIN ucnt x ON x.tok = b.w1
  JOIN ucnt y ON y.tok = b.w2
  CROSS JOIN nu CROSS JOIN nbg
  WHERE b.c >= {_PMI_MIN_COUNT})
SELECT w1, w2, c AS pair_count, pmi
FROM pmi ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOP}
""",
)
def j48_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent
    token pairs, PMI = ln(p(xy) / (p(x)·p(y))), top-50 by (pmi,
    bigram).  Bigrams are built scan-locally by zipping the token
    array with its own 1-shifted slice (no per-token shuffle, no
    positional self-join); unigram/bigram counts are partial-agg
    hash aggregates, and the corpus totals ride a tiny cross join.

    Determinism: PMI is a SINGLE ln of one division of exact int64
    products (c·Nu² / (Nb·cx·cy)) — both engines evaluate the same
    two float ops, and ordering ties break on the rounded value plus
    the bigram itself.

    Scale: vocab² never materializes — only observed bigrams (≤
    corpus token count) reach the aggregate; the unigram-count joins
    are unhinted equi-joins on the word key (vocab is unbounded at
    corpus scale; AQE broadcasts them only when actually small).
    100 TB: identical shape, with the two global counts as scalar
    subquery broadcasts.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("w"))
    uni = d.select(F.explode("w").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # corpus totals as IN-PLAN broadcast single-row aggregates
    # (round-12, the j10 device): Σc over the unigram-count and
    # pre-filter bigram-count tables equals the token / bigram counts
    # exactly (each token lands in exactly one group), so the scalars
    # ride ReuseExchange on shuffles the query already pays instead of
    # two separate driver count() jobs, each a full tokenize pass over
    # the corpus at construct.  Same long arithmetic (sum of longs),
    # identical values, and nothing constant-folds (the old
    # empty-corpus literal-0 guard is moot: n_b is now a column, and
    # when it is 0 no bigram row exists for the expression to score).
    nu_df = ucnt.agg(F.sum("c").alias("n_u"))
    bg = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0))),
                F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0))),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    bcnt_all = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    nb_df = bcnt_all.agg(F.sum("c").alias("n_b"))
    bcnt = bcnt_all.where(F.col("c") >= _PMI_MIN_COUNT)
    x = ucnt.select(F.col("tok").alias("w1"), F.col("c").alias("cx"))
    y = ucnt.select(F.col("tok").alias("w2"), F.col("c").alias("cy"))
    num = F.col("c") * F.col("n_u") * F.col("n_u")
    den = F.col("n_b") * F.col("cx") * F.col("cy")
    pmi = F.round(F.log(num.cast("double") / den.cast("double")), 6)
    return (
        bcnt.join(x, "w1")
        .join(y, "w2")
        .crossJoin(F.broadcast(nu_df))
        .crossJoin(F.broadcast(nb_df))
        .select(
            "w1",
            "w2",
            F.col("c").alias("pair_count"),
            pmi.alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )


# ------------------------------------- J50. shingle containment

_CONT_TAU = 0.7


@register(
    "j50_containment",
    oracle=f"""
WITH {_DOC_CTES},
tok AS (SELECT doc_id, unnest(sh) AS s FROM sh3),
sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS i
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2),
scored AS (
  SELECT doc_i, doc_j, i::DOUBLE / si.n AS cont
  FROM inter
  JOIN sizes si ON si.doc_id = doc_i)
SELECT doc_i, doc_j, round(cont, 6) AS containment
FROM scored WHERE cont >= {_CONT_TAU}
""",
)
def j50_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment: C(A→B) = |A∩B| / |A| over 3-word
    shingle sets, kept when ≥ 0.7 — the dedup relation Jaccard (j8b)
    misses: a short document quoted inside a long one scores high
    containment but low Jaccard.  DIRECTED output: (doc_i, doc_j)
    means i's shingles are mostly inside j.

    Same inverted-index shape as j8b — explode (doc, shingle),
    equi-join on the shingle, count per ordered pair — so work is
    Σ_shingle df², never |docs|²; |A| rides the join (each shingle
    row of the A side carries its doc's shingle count), so no per-doc
    size table — corpus cardinality — is joined back.
    The ratio is int/int, one identical double per engine.

    Scale: at 100 TB the shingle join keys would be hashed to int64
    first (j8b note) and stop-shingle df-capping bounds the worst
    collision mass; both apply unchanged here."""
    tok = _shingle_tokens(_docs_with_shingles(spark, sf_dir))
    a = tok.select(F.col("doc_id").alias("doc_i"), F.col("n").alias("n_i"), "s")
    b = tok.select(F.col("doc_id").alias("doc_j"), "s")
    return (
        a.join(b, "s")
        .where(F.col("doc_i") != F.col("doc_j"))
        .groupBy("doc_i", "doc_j", "n_i")
        .agg(F.count(F.lit(1)).alias("i"))
        .withColumn("cont", F.col("i").cast("double") / F.col("n_i"))
        .where(F.col("cont") >= _CONT_TAU)
        .select("doc_i", "doc_j", F.round("cont", 6).alias("containment"))
    )


# ------------------------------------------- J51. LSH quality eval


@register(
    "j51_lsh_eval",
    oracle=f"""
WITH {_DOC_CTES},
tok AS (SELECT doc_id, unnest(sh) AS s FROM sh3),
{_TOKF_CTES},
mh AS (
  SELECT doc_id,
         {_MINS}
  FROM tokf GROUP BY doc_id),
bands AS (
{_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id),
truth AS (
  SELECT a.doc_id AS i, b.doc_id AS j
  FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= {_TAU}),
m AS (
  SELECT (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM cand) AS n_cand,
         (SELECT count(*) FROM truth t JOIN cand c ON c.i = t.i AND c.j = t.j)
           AS n_caught)
SELECT n_truth, n_cand, n_caught,
       round(n_caught::DOUBLE / n_truth, 6) AS recall,
       round(n_caught::DOUBLE / n_cand, 6) AS precision_cand
FROM m
""",
)
def j51_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured sketch quality, not the textbook formula: recall and
    candidate-precision of j8's 12-band MinHash-LSH against the
    EXACT ≥0.5-Jaccard ground truth (j8b's :func:`_exact_jaccard`) — the
    "measure, don't guess" companion every production dedup pipeline
    ships next to its LSH parameters.  recall = caught/truth (loss
    from banding), precision_cand = true pairs among candidates (how
    much exact-verify work the bands admit).  Fully declarative:
    three single-row aggregates cross-joined, ratios are int/int.

    Scale: cost is the j8 front half + the j8b truth pass — you run
    this on a SAMPLE shard in production to validate band/row
    settings before the fleet run, which is exactly the shape here."""
    tok, cand = _lsh_candidates(spark, sf_dir)
    truth = _exact_jaccard(tok).where(F.col("jac") >= _TAU).select("doc_i", "doc_j")
    t1 = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    c1 = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    g1 = truth.join(cand, ["doc_i", "doc_j"]).agg(
        F.count(F.lit(1)).alias("n_caught")
    )
    return (
        t1.crossJoin(c1)
        .crossJoin(g1)
        .select(
            "n_truth",
            "n_cand",
            "n_caught",
            # try_divide: an empty shard has zero truth/candidate
            # pairs and the ratios are undefined (NULL), not a job
            # failure — DuckDB's x/0 is NULL already
            F.round(
                F.try_divide(F.col("n_caught").cast("double"), F.col("n_truth")), 6
            ).alias("recall"),
            F.round(
                F.try_divide(F.col("n_caught").cast("double"), F.col("n_cand")), 6
            ).alias("precision_cand"),
        )
    )


# -------------------------------- J52. deterministic weighted sample

_WS_K = 200


@register(
    "j52_weighted_sample",
    oracle=f"""
WITH d AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5('ws#' || doc_id), 1, 8))::BIGINT AS h
  FROM documents),
keyed AS (
  SELECT doc_id, n_chars,
         ln((h + 1)::DOUBLE / 4294967297.0) / n_chars AS es_key
  FROM d WHERE n_chars > 0),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY es_key DESC, doc_id) AS rn FROM keyed)
SELECT doc_id, n_chars, rn FROM ranked WHERE rn <= {_WS_K}
""",
)
def j52_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis
    A-ES: key_i = u_i^(1/w_i) (spelled ln(u)/w — same order), take
    the k largest; inclusion probability tracks the weight (here
    n_chars, the "sample long documents more" pre-pass).  u is NOT
    engine RNG — it is an md5-derived uniform in (0,1), so the
    sample is reproducible run-to-run AND cross-engine, the property
    that makes training-data samples auditable.

    Determinism note: both engines compute ln of the same double and
    rank it; a 1-ulp libm divergence could in principle flip an
    exact tie at the selection boundary — with 32-bit hash uniforms
    the probability is ~1e-11 (same accepted class as j9's cosine
    ranking).

    Scale: per-row key + a global top-k (TakeOrdered / rank-prune) —
    one pass, no shuffle beyond the k-row merge; stratified or
    per-shard variants partition first, exactly like j17."""
    d = t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    h = F.conv(F.substring(F.md5(F.concat(F.lit("ws#"), F.col("doc_id"))), 1, 8), 16, 10).cast("long")
    u = (h + 1).cast("double") / F.lit(4294967297.0)
    keyed = d.select(
        "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("es_key")
    )
    w = Window.orderBy(F.col("es_key").desc(), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _WS_K)
        .select("doc_id", "n_chars", "rn")
    )


# --------------------------------- J53. MinHash estimate calibration

_J53_MATCH_TERMS = " + ".join(
    f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(_NH)
)


@register(
    "j53_minhash_estimate",
    oracle=f"""
WITH {_DOC_CTES},
tok AS (SELECT doc_id, unnest(sh) AS s FROM sh3),
{_TOKF_CTES},
mh AS (
  SELECT doc_id,
         {_MINS}
  FROM tok GROUP BY doc_id),
mhf AS (
  SELECT doc_id,
         {_MINS}
  FROM tokf GROUP BY doc_id),
bands AS (
{_BANDS_F}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id),
matched AS (
  SELECT c.doc_i, c.doc_j,
         ({_J53_MATCH_TERMS})::BIGINT AS matches
  FROM cand c JOIN mh a ON a.doc_id = c.doc_i JOIN mh b ON b.doc_id = c.doc_j),
exact AS (
  SELECT c.doc_i, c.doc_j,
         len(list_intersect(x.sh, y.sh))::DOUBLE
           / len(list_distinct(list_concat(x.sh, y.sh))) AS jac
  FROM cand c JOIN sh3 x ON x.doc_id = c.doc_i JOIN sh3 y ON y.doc_id = c.doc_j)
SELECT m.doc_i, m.doc_j, m.matches,
       round(m.matches / {_NH}.0, 6) AS est_jac,
       round(e.jac, 6) AS exact_jac
FROM matched m JOIN exact e ON e.doc_i = m.doc_i AND e.doc_j = m.doc_j
""",
)
def j53_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE (matching signature positions / 24 — the
    unbiased estimator the banding math assumes) next to the exact
    Jaccard, so the sketch's error is measurable row by row (j51
    gives the aggregate view; this gives the scatter).  matches is
    an int, est_jac an int/24 ratio — no float hazards; exact_jac is
    the same candidate-pair :func:`_exact_jaccard` verify j8 runs.

    Scale: signatures are 24 strings/doc — the candidate join
    touches signatures and shingle sets only for colliding pairs;
    at fleet scale this runs on a sample shard to pick _NH/_BAND_R
    before committing the full corpus pass."""
    tok, cand = _lsh_candidates(spark, sf_dir)
    # FULL-set signatures per row: the old
    # tok.groupBy(doc_id).agg(24 × min(md5-string)) planned as
    # SortAggregate (string min has no mutable hash-agg buffer) —
    # two full sorts of the token stream per pair side.  array_min
    # over the cached shingle ARRAYS computes the identical 24
    # minima inside the scan stage (guide §2.3/§2.4: same md5 count,
    # zero aggregation passes); min-over-array equals min-over-rows
    # because min is duplicate- and order-insensitive and every
    # candidate doc has ≥ 1 shingle.  cached(): both pair sides
    # (sig_a / sig_b) read one materialization, the same device tok
    # and bands already use.
    def _mh_elem(i: int):
        # one-arg closure: a two-arg lambda would make transform()
        # pass the array INDEX as the second argument
        return lambda s: F.md5(F.concat(F.lit(f"{i}#"), s))

    sig = cached(
        _docs_with_shingles(spark, sf_dir).select(
            "doc_id",
            F.array(
                *[
                    F.array_min(F.transform("sh", _mh_elem(i)))
                    for i in range(_NH)
                ]
            ).alias("sig"),
        )
    )
    sa = sig.select(F.col("doc_id").alias("doc_i"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_j"), F.col("sig").alias("sig_b"))
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    exact = _exact_jaccard(tok, cand).select(
        "doc_i", "doc_j", F.round("jac", 6).alias("exact_jac")
    )
    return (
        cand.join(sa, "doc_i")
        .join(sb, "doc_j")
        .select("doc_i", "doc_j", matches.alias("matches"))
        .join(exact, ["doc_i", "doc_j"])
        .select(
            "doc_i",
            "doc_j",
            "matches",
            F.round(F.col("matches") / _NH, 6).alias("est_jac"),
            "exact_jac",
        )
    )


# ------------------------------------------- J54. bigram LM scoring


@register(
    "j54_bigram_lm",
    oracle="""
WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)),
bcnt AS (SELECT w1, w2, count(*) AS cxy FROM bg GROUP BY w1, w2),
ucnt AS (SELECT unnest(w) AS tok FROM docs),
ufreq AS (SELECT tok, count(*) AS cx FROM ucnt GROUP BY tok),
v AS (SELECT count(*) AS v FROM ufreq),
nll AS (
  SELECT bg.doc_id,
         -ln((b.cxy + 1)::DOUBLE / (u.cx + v.v)) AS t
  FROM bg
  JOIN bcnt b ON b.w1 = bg.w1 AND b.w2 = bg.w2
  JOIN ufreq u ON u.tok = bg.w1
  CROSS JOIN v)
SELECT doc_id, count(*) AS n_bigrams, round(avg(t), 6) AS avg_nll
FROM nll GROUP BY doc_id
""",
)
def j54_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score with add-one smoothing:
    per-doc mean −ln((c_xy + 1) / (c_x + |V|)) under the corpus's
    own bigram counts — the next rung above j27's unigram proxy
    (catches scrambled-word soup that unigram stats can't).  Bigrams
    build scan-locally (j48's shifted-slice zip); both count tables
    re-join onto the bigram stream unhinted (bigram/unigram vocab is
    unbounded at corpus scale — AQE broadcasts when actually small,
    else the streams co-partition on the word keys); ln terms
    are identical doubles of int ratios and per-doc averages of ~30
    terms keep the ≤1-ulp libm drift ~6 orders below the 6dp round
    (the j27 precedent).

    Scale: two unhinted equi-joins + two partial-agg count tables; the
    bigram-count table is the only vocabulary²-bounded object and is
    df-capped in practice (observed bigrams ≤ corpus tokens)."""
    d = t(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("w"))
    bg = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0))),
                F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0))),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    bcnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cxy"))
    uni = d.select(F.explode("w").alias("tok"))
    ufreq = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("cx"))
    # |V| as an in-plan broadcast single-row aggregate (round-12, the
    # j10 device): count over ufreq's own shuffle output via
    # ReuseExchange replaces a driver count() job whose pass
    # re-tokenized the whole corpus at construct.  Long count either
    # way — identical smoothing denominator.
    vdf = ufreq.agg(F.count(F.lit(1)).alias("v"))
    nll = (
        bg.join(bcnt, ["w1", "w2"])
        .join(ufreq.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vdf))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.col("cxy") + 1).cast("double") / (F.col("cx") + F.col("v"))
                )
            ).alias("t"),
        )
    )
    return nll.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("t"), 6).alias("avg_nll"),
    )
