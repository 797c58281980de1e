"""Distributed exact k-nearest-neighbors join.

Re-expresses the reference's kNN-IS core (reconstructed [R
src/main/scala/kNN_IS.scala]; Maillo et al., KBS 2017 §3): broadcast
the query set, stream candidate partitions past it computing
distances, keep only k per query point.

Spark-first mapping (SURVEY.md §2 c1 + e1):

- broadcast test chunk × mapPartitions  →  ``candidates.crossJoin(
  F.broadcast(queries))`` — Catalyst plans a
  BroadcastNestedLoopJoin, the same dataflow as the reference's
  hand-rolled broadcast + partition scan.
- bounded k-size candidate arrays merged in reduceByKey  →
  ``row_number() OVER (PARTITION BY q ORDER BY dist, n) <= k``.
  Spark ≥3.5 plans a WindowGroupLimit below the shuffle, so each map
  task keeps only k rows per query before exchanging — literally the
  reference's partial top-k trick, built into the engine
  (verified in tests/test_plans.py).
- the reference's iterative test-chunking (numIterations/maxWeight)
  is unnecessary: shuffles spill, AQE re-sizes partitions.

Scale path (100 TB): brute force is O(|Q|·|C|) — correct but
quadratic.  Keep |Q| chunked via broadcast (≤ ~1 GB per chunk), or
switch to LSH candidate generation (operators/similarity.py) and
re-rank exactly; both preserve this operator's output contract.

Determinism contract for the DuckDB oracle: ties broken by
``(dist, n_id)`` — n_id unique ⇒ unique ranking (SURVEY.md §7.2).
"""

from __future__ import annotations

from collections import Counter
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from big_data_fknn_spark.functions.distance import cosine_sim, euclidean, manhattan

# Queries are fetched + broadcast in chunks of this many rows (the
# kNN-IS maxWeight/numIterations memory bound): 100k × 64 dims × 8 B
# ≈ 50 MB per chunk — well under torrent-broadcast comfort.
_CHUNK = 100_000

# Cap on the dense distance-plane size inside the BLAS kernel:
# |Q| × |candidate tile| ≤ _TILE_CELLS (2M float64 cells ≈ 16 MB per
# plane, ~3 planes live with the matmul temporaries).  Bounds executor
# memory for ANY query-chunk size × Arrow batch size combination.
_TILE_CELLS = 2_000_000

# Above this many query rows the broadcast-kernel plan stops making
# sense (the union of chunk broadcasts itself becomes gigabytes of
# driver/executor block-manager state): fall back to the fully
# declarative `knn_join`, which never materializes anything driver-side.
_MAX_BROADCAST_ROWS = 4_000_000


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    metric: Callable[[Column, Column], Column] = euclidean,
    q_cols: tuple[str, str] = ("vec_id", "emb"),
    c_cols: tuple[str, str] = ("vec_id", "emb"),
    exclude_self: bool = False,
    keep_q_cols: tuple[str, ...] = (),
    keep_c_cols: tuple[str, ...] = (),
) -> DataFrame:
    """For every query row, the k nearest candidate rows.

    Returns ``(q_id, <keep_q_cols>, n_id, <keep_c_cols>, dist, rn)``
    with rn in 1..k ordered by (dist, n_id).

    ``exclude_self=True`` gives the leave-one-out variant used by the
    fuzzy stage-1 class-membership computation (a theta join,
    SURVEY.md §2 c2).
    """
    q_id, q_vec = q_cols
    c_id, c_vec = c_cols
    q = queries.select(
        F.col(q_id).alias("q_id"),
        F.col(q_vec).alias("_q_vec"),
        *[F.col(c).alias(f"q_{c}") for c in keep_q_cols],
    )
    c = candidates.select(
        F.col(c_id).alias("n_id"),
        F.col(c_vec).alias("_c_vec"),
        *[F.col(c_).alias(f"n_{c_}") for c_ in keep_c_cols],
    )
    # Broadcast the query side: the candidate (train) side is the big
    # table and must stream; this is the reference's broadcast choice.
    pairs = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id") if exclude_self else F.lit(True))
    pairs = pairs.withColumn("dist", metric(F.col("_q_vec"), F.col("_c_vec")))
    # A NULL distance means a non-conforming pair (NULL vector, or
    # ragged lengths NULL-padded by zip_with) — and Spark's ascending
    # sort puts NULL FIRST, so without this filter one ragged row in
    # the candidate set becomes EVERY query's nearest neighbor.  Drop
    # the pair instead (the BLAS kernel's admission mirror; callers
    # normally gate earlier via tables.EMB_ADMIT_SQL).
    pairs = pairs.where(F.col("dist").isNotNull())
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("n_id").asc())
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("_q_vec", "_c_vec")
    )


def knn_join_blas(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    metric: str = "euclidean",
    q_cols: tuple[str, str] = ("vec_id", "emb"),
    c_cols: tuple[str, str] = ("vec_id", "emb"),
    exclude_self: bool = False,
    keep_q_cols: tuple[str, ...] = (),
    keep_c_cols: tuple[str, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """`knn_join` with an Arrow-batched BLAS distance kernel — same
    output contract ``(q_id, q_*, n_id, n_*, dist, rn)``, ~10× the
    expression path on wide vectors.

    Physical design (the kNN-IS dataflow, [P kNN-IS §3.2-3.3],
    hand-rolled in the reference as broadcast + mapPartitions +
    bounded k-arrays [R kNN_IS.scala]):

    - the query side is **streamed to the driver one bounded chunk at
      a time** (repartitioned so each shuffle partition ≈ ``_CHUNK``
      rows, then ``toLocalIterator`` — one fetch job per partition,
      never the whole set at once) and each chunk is broadcast as one
      numpy matrix (the same driver→executor boundary Spark's own
      BroadcastExchange uses).  This is the reference's iterative
      test-chunk scheme (kNN-IS §3.4 maxWeight/numIterations): driver
      peak memory is one chunk, not |Q|;
    - above ``_MAX_BROADCAST_ROWS`` query rows even chunked broadcast
      state is unreasonable — the call transparently falls back to
      the fully declarative ``knn_join`` plan (same output contract,
      zero driver materialization);
    - ``mapInPandas`` streams candidate Arrow batches; each batch
      computes the full |Q|×|batch| distance matrix with one BLAS
      matmul (‖q−c‖² = ‖q‖² + ‖c‖² − 2·Q·Cᵀ) instead of per-pair
      array allocations;
    - only the batch-local top-k rows per query leave the kernel —
      the partial top-k below the exchange that WindowGroupLimit
      gives the expression path — then one small window merge
      produces the global k;
    - keep columns ride the kernel, as in kNN-IS's map output: query
      values in the broadcast tuple (fetched with the vectors),
      candidate values through ``mapInPandas`` as columns — no join
      brings them back.  Crossing pandas, a NaN comes back NULL and a
      nullable integral candidate column is exact only to 2^53.

    Exactness: candidate sets are exact; boundary ties are resolved
    by (dist, n_id) inside the kernel via lexsort over a 2k+8 margin,
    matching the global window's order.  BLAS distances can differ
    from sequential-fold distances in the last ~2 ulps — outputs that
    feed value oracles must round (all callers round to 6dp, and
    membership weights tolerate 1e-12 drift).

    Robustness: rows whose vector is NULL or not exactly ``dim``
    elements long are DROPPED on both sides (query and candidate) —
    a ragged vector cannot participate in fixed-dim matrix math, and
    one such row in 100 TB of input must not kill the job (callers
    already exclude them via the tables.EMB_ADMIT_SQL scan-edge gate;
    this is the kernel's own belt-and-braces).  ``dim`` defaults to
    the MODE of the first query chunk's vector lengths (ties → longer)
    — a set-level property, invariant under row order, so a ragged
    row arriving first under an unlucky input-split order cannot
    hijack the kernel dim (round-9 ADVICE).  Zero-norm vectors
    under the cosine metric normalize against a guard 1.0 (dot stays
    0 ⇒ similarity 0) instead of dividing by zero.

    At 100 TB: candidates never move (no shuffle before the kernel);
    per-chunk results are unioned — the reference's iterative scheme.
    Skip the brute force entirely when an LSH/IVF pre-filter applies
    (queries/llm.py j9b).
    """
    import math

    import numpy as np
    import pandas as pd

    q_id, q_vec = q_cols
    c_id, c_vec = c_cols
    spark = queries.sparkSession
    sc = spark.sparkContext

    q_keep = [f"q_{c}" for c in keep_q_cols]
    n_keep = [f"n_{c}" for c in keep_c_cols]
    q_src = queries.select(
        F.col(q_id).alias("_q_id"),
        F.col(q_vec).alias("_q_vec"),
        *[F.col(c).alias(a) for c, a in zip(keep_q_cols, q_keep)],
    )

    # Round-12 fusion: ONE bounded fetch job both decides the strategy
    # and delivers the query set in the dominant single-chunk regime.
    # ``take(_CHUNK + 1)`` holds at most one chunk (+1 row) on the
    # driver — exactly the memory envelope the old count()-then-
    # collect() pair guaranteed — but replaces its two full passes
    # over the query scan with one.  ``initialNumPartitions`` is
    # raised for the call so the limit scans every partition in a
    # single job instead of the default 1, 4, 16… escalation (4 tiny
    # jobs on a 32-partition input).  Only when the bound trips
    # (> _CHUNK rows exist) do we pay the count that the
    # multi-chunk / fallback decision needs — there the extra job is
    # noise against the work that follows.
    _LIM_KEY = "spark.sql.limit.initialNumPartitions"
    _lim_old = spark.conf.get(_LIM_KEY, None)
    spark.conf.set(_LIM_KEY, "100000")
    try:
        head = q_src.take(_CHUNK + 1)
    finally:
        if _lim_old is None:
            spark.conf.unset(_LIM_KEY)
        else:
            spark.conf.set(_LIM_KEY, _lim_old)
    if len(head) <= _CHUNK:
        n_q = len(head)
    else:
        head = None
        # One distributed count decides the strategy; it never moves rows.
        n_q = queries.count()
    if n_q > _MAX_BROADCAST_ROWS:
        col_metric = {
            "euclidean": euclidean,
            "manhattan": manhattan,
            "cosine_neg": lambda a, b: -cosine_sim(a, b),
        }[metric]
        return knn_join(
            queries,
            candidates,
            k,
            metric=col_metric,
            q_cols=q_cols,
            c_cols=c_cols,
            exclude_self=exclude_self,
            keep_q_cols=keep_q_cols,
            keep_c_cols=keep_c_cols,
        )

    cand = candidates.select(
        F.col(c_id).alias("n_id"),
        F.col(c_vec).alias("_c_vec"),
        *[F.col(c).alias(a) for c, a in zip(keep_c_cols, n_keep)],
    )
    # (q_id, q_*, n_id, n_*, dist), the keep columns typed as their inputs
    out_schema = StructType(
        [StructField("q_id", LongType()), *q_src.schema[2:], StructField("n_id", LongType())]
        + [*cand.schema[2:], StructField("dist", DoubleType())]
    )
    # Round-12, measured and REJECTED: repartitioning an under-split
    # candidate scan (guide §2.5 "input skew" — a single-row-group
    # parquet file scans as one task) before the kernel.  A blanket
    # repartition-to-cores split the bench's ~1 MB candidate tables
    # into 32 ~60-row Python tasks whose per-task Arrow/worker
    # overhead exceeded the compute (j9 exec 0.25 s → 0.55 s, j1
    # 0.46 s → 0.78 s, j3 unchanged — tools/key_timer.py), and a
    # work-estimate gate via optimizedPlan().stats() cost ~0.2 s of
    # driver Catalyst time per kernel call at construct.  At real
    # scale the branch would never fire anyway (a big candidate table
    # spans many splits), so the no-op is the right plan at every
    # scale; a genuinely huge SINGLE-row-group candidate file remains
    # the caller's layout problem (fix at the writer, guide §2.5).

    # Bound what any single fetch can hold: hash-repartition the query
    # side into ≈_CHUNK-row partitions, then pull them one at a time.
    # (Skipped when the bounded take above already holds the full set.)
    n_parts = max(1, math.ceil(n_q / _CHUNK))
    if head is None and n_parts > 1:
        q_src = q_src.repartition(n_parts, "_q_id")

    margin = 2 * k + 8  # ties at the k-boundary stay deterministic
    parts = []
    buf: list = []  # fetched query rows (_q_id, _q_vec, *q_keep)

    # Admission (see docstring): dim inferred as the MODE of the first
    # chunk's vector lengths unless declared; non-conforming rows never
    # reach the matrix build on either side.
    _dim = [dim]

    def _admit(vec) -> bool:
        if vec is None or len(vec) == 0:
            return False  # a zero-length vector must not define dim
        if _dim[0] is None:
            return True  # dim resolves at first flush (chunk mode)
        return len(vec) == _dim[0]

    def _flush() -> None:
        if _dim[0] is None and buf:
            # Mode of the first chunk's lengths, not the first row's:
            # input-split order is not a contract, and a ragged row
            # that happens to arrive first must not hijack the kernel
            # dim and silently drop every conforming vector (round-9
            # ADVICE).  The mode is a set-level property of the chunk —
            # invariant under any row order within it.  Ties break to
            # the longer length (deterministic).  A chunk that is
            # UNIFORMLY the wrong length still wins the vote — callers
            # that bypass the EMB_ADMIT scan gate and cannot trust
            # their first chunk must pass ``dim`` explicitly.
            counts = Counter(len(r[1]) for r in buf)
            _dim[0] = max(counts, key=lambda length: (counts[length], length))
            if len(counts) > 1:
                buf[:] = [r for r in buf if len(r[1]) == _dim[0]]
        qids = np.array([r[0] for r in buf], dtype=np.int64)
        qmat = np.array([r[1] for r in buf], dtype=np.float64)
        # object arrays keep Python values (exact longs, NULLs) as fetched
        qkeep = [
            np.fromiter((r[j] for r in buf), dtype=object, count=len(buf))
            for j in range(2, 2 + len(q_keep))
        ]
        buf.clear()
        if metric == "cosine_neg" and len(qmat):
            qn = np.linalg.norm(qmat, axis=1, keepdims=True)
            qmat = qmat / np.where(qn == 0.0, 1.0, qn)
        bc = sc.broadcast((qids, qmat, _dim[0], qkeep))

        def kernel(batches, _bc=bc):
            ids_q, Q, kdim, keep_q = _bc.value
            m = len(ids_q)
            if m == 0:
                return
            qsq = (Q * Q).sum(axis=1)
            # Round-12: bound the dense |Q|×|tile| distance plane at
            # ~_TILE_CELLS cells (≈16 MB of float64) by slicing each
            # Arrow batch's candidate rows.  Unbounded, the plane is
            # |Q|×|batch| — with a full 100k-row query chunk and the
            # default 10k-row Arrow batch that is an 8 GB allocation
            # PER BATCH (×3 with the matmul temporaries), far outside
            # any executor memory envelope.  Row-tiling the candidates
            # cannot change any distance (each output element's K-dim
            # fold is computed identically; tiling only regroups rows
            # — the same regrouping an arbitrary partitioning already
            # performs, proven value-invariant by
            # tools/partition_invariance.py), and the per-tile
            # top-(k+1) cut feeds the same global window merge that
            # already merges per-batch cuts.
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vecs = pdf["_c_vec"].to_numpy()
                ok = np.array(
                    [v is not None and len(v) == kdim for v in vecs],
                    dtype=bool,
                )
                if not ok.all():
                    pdf = pdf[ok]
                    if len(pdf) == 0:
                        continue
                C_all = np.vstack(pdf["_c_vec"].to_numpy())
                ids_all = pdf["n_id"].to_numpy(dtype=np.int64)
                keep_c = [pdf[a].to_numpy() for a in n_keep]
                if metric == "cosine_neg":
                    cn = np.linalg.norm(C_all, axis=1, keepdims=True)
                    C_all = C_all / np.where(cn == 0.0, 1.0, cn)
                tile = max(1, _TILE_CELLS // max(m, 1))
                for s in range(0, len(C_all), tile):
                    C = C_all[s : s + tile]
                    ids_c = ids_all[s : s + tile]
                    if metric == "cosine_neg":
                        D = -(Q @ C.T)  # smaller = more similar
                    elif metric == "manhattan":
                        # no matmul identity for L1; accumulate per dim
                        # to keep peak memory at one (|Q|,|tile|) plane
                        D = np.zeros((m, len(C)))
                        for dcol in range(Q.shape[1]):
                            D += np.abs(Q[:, dcol, None] - C[None, :, dcol])
                    else:
                        d2 = (
                            qsq[:, None]
                            + (C * C).sum(axis=1)[None, :]
                            - 2.0 * (Q @ C.T)
                        )
                        D = np.sqrt(np.maximum(d2, 0.0))
                    take = min(margin, D.shape[1])
                    part = np.argpartition(D, take - 1, axis=1)[:, :take]
                    out_q, out_n = [], []
                    for i in range(m):
                        cols = part[i]
                        sel = cols[np.lexsort((ids_c[cols], D[i, cols]))[: k + 1]]
                        out_q.append(np.full(len(sel), i))
                        out_n.append(sel)
                    qi = np.concatenate(out_q)
                    ni = np.concatenate(out_n)
                    out = {"q_id": ids_q[qi]}
                    out.update((a, v[qi]) for a, v in zip(q_keep, keep_q))
                    out["n_id"] = ids_c[ni]
                    out.update((a, v[s + ni]) for a, v in zip(n_keep, keep_c))
                    out["dist"] = D[qi, ni]
                    yield pd.DataFrame(out)

        parts.append(cand.mapInPandas(kernel, out_schema))

    # Stream the query side.  Single-chunk case (n_q ≤ _CHUNK —
    # the memory bound holds by construction): one fetch job, no
    # per-partition iteration latency.  Multi-chunk case:
    # toLocalIterator fetches one partition per job, so the driver's
    # Python process holds ≤ one chunk of rows at any moment (the
    # numpy copy handed to broadcast is dropped as soon as the chunk
    # is flushed).
    if n_q == 0:
        _flush()  # empty chunk keeps the output schema stable
    elif head is not None or n_parts == 1:
        # bounded ≤ _CHUNK by the take above, or by the count
        buf.extend(r for r in (head if head is not None else q_src.collect()) if _admit(r[1]))
        _flush()
    else:
        for row in q_src.toLocalIterator(prefetchPartitions=False):
            if not _admit(row[1]):
                continue
            buf.append(row)
            if len(buf) >= _CHUNK:
                _flush()
        if buf:
            _flush()
    if not parts:  # every query row non-conforming: stable empty output
        _flush()

    topk = parts[0]
    for p in parts[1:]:
        topk = topk.unionByName(p)
    if exclude_self:
        topk = topk.where(F.col("q_id") != F.col("n_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("n_id").asc())
    return topk.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
