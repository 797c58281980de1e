"""Range-partitioned exact global rank / ntile / running aggregates.

The scale-safe replacement for ``Window.orderBy(...)`` with no
``partitionBy`` — which Spark physically plans as ``Exchange
SinglePartition`` + one task sorting the WHOLE input (verified with
``explain`` on the round-2 operators this module now powers: RFM
quintiles, Gini ranks, Lorenz deciles, skylines, percent_rank).
Correct at sf0.1; a funnel at 10⁹ rows.

The primitive here is the classic distributed zipWithIndex / range-
rank pattern (the same shape Spark's own ``RangePartitioner`` uses
internally for ``ORDER BY``):

1. ONE pass computes ~equi-depth split points of the leading order
   key (``percentile_approx`` — a partial-combinable aggregate, so
   map-side combined, tiny shuffle).
2. Each row gets a bucket id as a PURE FUNCTION of its key value.
   Purity matters: every re-evaluation of the plan assigns identical
   buckets, so no exchange-reuse or checkpoint is needed for
   consistency — unlike ``spark_partition_id()`` after
   ``repartitionByRange``.  Smooth keys (no duplicate raw splits —
   provably no threshold-grade tie class) use the plain strict-``<``
   count; keys with duplicate splits use ``#splits<key +
   #splits≤key``, whose even/odd form gives every split VALUE a
   dedicated bucket (odd ids), isolating heavy tie-classes — see
   "Ties" below.
3. ONE pass counts rows per bucket (≤ 2·num_buckets rows — collected
   to the driver exactly like RangePartitioner collects its sampled
   boundaries) → cumulative offsets as literal arrays.  The same
   counts drive SKEW DETECTION for free.
4. Local ``row_number`` inside ``Window.partitionBy(bucket)`` — a
   hash shuffle over ~n/B-row groups, never a single partition —
   plus the broadcast offset = exact global rank.

Every primitive runs steps 1-3 through ONE tagger,
:func:`_tag_balanced`, over a LIST of orders: one splits job for
every leading key, one counts job (a plain ``groupBy`` for one
order, ``GROUPING SETS`` for several), then per order the
injectivity gate and :func:`_refine_loop`.  Step 4 is
:func:`_ranked` (offsets + ``row_number`` window) for
:func:`global_rank` and :func:`multi_global_rank`; running
aggregates fold per-bucket values through
:func:`_exclusive_prefix`.  NULL-bearing and string leading keys go
through the same pass (see "Caveats").

Ties (the round-3 verdict's scale-killer): with strict-``<``
bucketing alone, ALL rows tied on the leading key share one bucket —
a Zipfian token-frequency rank (most tokens at cnt=1) would serialize
~half the table into one task at 100 TB.  Two devices fix this:

* Any value with mass ≥ total/num_buckets must straddle a percentile
  grid point, so it IS a (deduped) split — and the even/odd bucket id
  puts its ties ALONE in an odd "tie bucket".  Range (even) buckets
  between deduped splits hold ≤ ~2/num_buckets of the mass by
  construction, so only tie buckets can be badly oversized.
* Because a tie bucket's rows are all EQUAL on the order prefix,
  sub-splitting it on the NEXT order column is order-preserving.
  When the per-bucket counts show a tie bucket above
  ``max(_SKEW_FACTOR × total/num_buckets, _MIN_SKEW_ROWS)``, one
  extra grouped-percentile job computes equi-depth sub-splits of the
  next key inside each oversized bucket and the bucket ids are
  remapped (still a pure function of the row's key values).  The
  refinement iterates down the order columns while skew persists.
  String tiebreakers are projected through a fixed-width binary-
  prefix code (6 UTF-8 bytes at a window offset, zero-padded, as a
  48-bit int — monotone under UTF8 binary collation); a tie bucket
  on one window CONTINUES on the next 6-byte window of the SAME
  column (always order-correct: rows tied on windows 1..k are
  ordered by window k+1 consistently with the full string), so long
  shared prefixes — URL corpora, subword vocabularies — refine
  arbitrarily deep instead of stalling at one level.  No skew → no
  extra jobs.

  "EQUAL on the order prefix" is guaranteed by the projection only
  where the projection is INJECTIVE — a tie bucket on a LOSSY
  projection (NaN's +∞ image when real ±∞ rows share the bucket,
  longs/timestamp-micros beyond 2^53, decimals past 15 digits, a
  string window with NUL bytes or unconsumed suffix) can conflate
  genuinely different values, and refining it on the NEXT ORDER
  COLUMN would interleave them.  Each bucket job therefore also
  collects per-bucket EVIDENCE (``_inj_evidence``; no-NUL +
  fully-consumed for string windows) and the driver only lets
  provably-equal tie buckets advance past their column; ineligible
  buckets keep their correct sub-splits so far and at worst stay
  oversized.  An order column with NO monotone projection (arrays,
  structs) stops refinement outright — skipping it would interleave
  the skipped column's order.

ntile / percent_rank derive from the exact rank and the (driver-
known) total; a prefix-combine of any commutative aggregate (max,
sum) over "all preceding rows" works the same way: local running
value within the bucket ⊕ the literal prefix over earlier buckets.
``multi_global_rank`` amortizes the construct jobs across SEVERAL
orders of one input (one splits aggregate + one GROUPING SETS count
pass however many metrics), and the bucketing key is type-dispatched
(numeric/decimal/timestamp/date/boolean; ``global_rank`` ranks a
string LEADING key by its prefix code prepended as a numeric leading
column; anything else raises — float/double NaN is mapped to +∞ so
buckets agree with Spark's NaN-greatest sort in BOTH directions).

Caveats: the order must be a TOTAL order (append a unique key —
every caller here does, for cross-engine determinism anyway).  NULLs
in ANY order column, the leading key included, project to −∞
ascending / +∞ descending, so they land in the first / last bucket
exactly where Spark's NULLS FIRST (asc) / NULLS LAST (desc) window
puts them, and the in-bucket sort on the true columns orders them
within it.  A heavy NULL class is a duplicate ±∞ split, so it gets
its own tie bucket; where NULLs share that bucket with real
±Infinity doubles, :func:`_inj_evidence` keeps it from being refined.

Cost: two extra passes over the (already aggregated, entity-
cardinality) input at construct time, plus two more per refinement
level ONLY when tie-skew is detected.  Callers ranking a non-trivial
plan should ``localCheckpoint()`` first so the jobs share one
materialization.
"""

from __future__ import annotations

import math
import operator
from dataclasses import dataclass
from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "GlobalRank",
    "global_rank",
    "multi_global_rank",
    "ntile_from_rank",
    "global_running_agg",
]

_BUCKET = "__gr_bucket"
# percentile_approx accuracy floor: rank error ≤ total/accuracy.  The
# effective accuracy auto-scales as max(_ACCURACY, 20·num_buckets) so
# the split error stays ≤ ~ideal/20 even for very large bucket counts
# (at B=4096 a fixed 10k accuracy would give ~0.4·ideal error);
# percentile_approx state is O(accuracy), still tiny either way.
_ACCURACY = 10_000
# a bucket is "oversized" above max(_SKEW_FACTOR × total/B, _MIN_SKEW_ROWS);
# the absolute floor keeps test-scale inputs from paying refinement jobs
# a single task handles trivially.
_SKEW_FACTOR = 4
_MIN_SKEW_ROWS = 10_000
# above this many split points the bucket-id expression switches from a
# linear array scan to the two-level √B lookup (see _bucket_expr) —
# the per-ROW cost of the linear scan is O(#splits), which at
# B=4096 made the counts job 29 s of a 39 s construct on 2M rows
# (measured); two-level cuts it to O(2√#splits).  Small B keeps the
# smaller single-level expression (cheaper codegen, same semantics).
_TWO_LEVEL_MIN = 64
# hard cap on refinement stages (each is 2 extra jobs, only run while
# skew persists): bounds the string-continuation walk on adversarial
# data — 24 stages cover >100 bytes of shared prefix plus every order
# column; past it the residual bucket stays oversized (correct, the
# in-bucket sort is exact) rather than paying unbounded construct jobs.
_MAX_REFINE_STAGES = 24


def _resolve(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _dtype(df: DataFrame, col: Column):
    return df.select(col.alias("__k")).schema[0].dataType


def _num_buckets(df: DataFrame, num_buckets: int | None) -> int:
    if num_buckets is not None:
        return max(int(num_buckets), 1)
    return max(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")), 1)


def _bucket_key(
    df: DataFrame,
    leading: Column,
    ascending: bool,
    *,
    allow_string: bool = False,
    soft: bool = False,
    str_offset: int = 1,
) -> Column | None:
    """Monotone numeric projection of an order key for bucketing.

    Must be order-preserving (non-strict is fine: values that collide
    in the projection share a bucket and the in-bucket sort on the
    TRUE columns restores exact order).  A blind ``cast("double")``
    silently yields NULL for dates/timestamps/strings — collapsing
    everything into one bucket — so the projection is type-dispatched
    and unsupported types fail loudly instead (or return None with
    ``soft=True``, used by the skew-refinement loop to skip past an
    unprojectable tiebreaker).

    ``allow_string`` enables the fixed-width binary-prefix code for
    string TIEBREAKERS (leading keys keep rejecting strings: a 6-byte
    prefix can collapse a pathological key set into one bucket, so
    callers must opt in by projecting explicitly).  NULL maps to ±∞
    so the bucket order matches Spark's NULLS FIRST (asc) / NULLS LAST
    (desc) defaults, for the leading key and tiebreakers alike.
    """
    from pyspark.sql import types as T

    dt = _dtype(df, leading)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        key = F.unix_micros(leading).cast("double")
    elif isinstance(dt, T.DateType):
        key = F.datediff(leading, F.lit("1970-01-01").cast("date")).cast("double")
    elif isinstance(dt, T.BooleanType):
        key = leading.cast("int").cast("double")
    elif isinstance(dt, (T.FloatType, T.DoubleType)):
        # Spark orders NaN GREATEST in both directions.  A blind
        # negation for descending leaves -NaN = NaN in the LAST bucket
        # while the in-bucket .desc() sort puts NaN FIRST — map NaN to
        # +inf BEFORE the sign flip so buckets agree with the sort.
        d = leading.cast("double")
        key = F.when(F.isnan(d), F.lit(float("inf"))).otherwise(d)
    elif isinstance(dt, T.NumericType):
        key = leading.cast("double")
    elif allow_string and isinstance(dt, T.StringType):
        # Fixed-width binary-prefix code: 6 UTF-8 bytes starting at
        # ``str_offset`` (1-based), zero-padded, read as a 48-bit
        # big-endian integer (exact in a double).  Monotone
        # (non-strict) under UTF8 binary collation: right-padding with
        # 0x00 — the smallest byte — preserves the prefix comparison,
        # and strings sharing the window merely share a bucket.
        # ``str_offset`` > 1 is the CONTINUATION window used by the
        # refinement loop on buckets whose rows are equal on all
        # earlier windows — there the window comparison equals the
        # suffix comparison, so it stays monotone.  Strings consumed
        # before the window (substring empty past the 6-byte pad) code
        # to 0, same as an all-pad window.
        six = F.substring(
            F.concat(F.encode(leading, "UTF-8"), F.lit(b"\x00" * 6)),
            int(str_offset),
            6,
        )
        raw = F.conv(F.hex(six), 16, 10).cast("double")
        key = F.when(leading.isNull(), F.lit(None).cast("double")).otherwise(
            F.coalesce(raw, F.lit(0.0))
        )
    else:
        if soft:
            return None
        raise TypeError(
            f"global rank bucketing needs a numeric/date/timestamp/boolean "
            f"leading key; got {dt.simpleString()} — project it to a "
            "monotone numeric first (e.g. a length, an epoch, a prefix code)"
        )
    key = key if ascending else -key
    return F.coalesce(key, F.lit(float("-inf") if ascending else float("inf")))


def _splits_agg(key: Column, n: int, alias: str) -> Column:
    """~Equi-depth split points of ``key`` for ``n`` buckets —
    approximate percentiles, whose accuracy only affects balance,
    never rank correctness, because exact order is re-established
    inside each bucket."""
    fracs = [i / n for i in range(1, n)]
    accuracy = max(_ACCURACY, 20 * n)
    return F.percentile_approx(key, F.lit(fracs), F.lit(accuracy)).alias(alias)


def _scheme(raw) -> tuple[list[float], bool]:
    """(deduped sorted splits, need tie buckets?).

    A value's tie class can only exceed the skew threshold (4×ideal)
    if its mass is > 4/n of the total — but any value with mass
    ≥ ~2/n already straddles TWO percentile grid points and therefore
    appears ≥2× in the RAW (pre-dedup) percentile output.  So when
    the raw splits are all distinct, no tie class can come near the
    threshold and the cheaper strict-``<`` bucketing (no tie buckets,
    half the ids, smallest expression) is provably sufficient; the
    even/odd tie-bucket scheme is reserved for keys that show
    duplicate splits."""
    vals = [float(s) for s in (raw or []) if s is not None]
    sp = sorted(set(vals))
    return sp, len(vals) != len(sp)


def _bucket_expr(splits: list[float], key: Column, tie_buckets: bool) -> Column:
    """Bucket id from DEDUPED split points — a pure function of the
    VALUE, so every plan re-evaluation assigns identical buckets.

    ``tie_buckets=False`` (smooth key — no duplicate raw splits):
    plain count of splits strictly below the key.

    ``tie_buckets=True``: ``#splits<key + #splits≤key`` — rows
    strictly between splits i-1 and i get even id 2i; rows EQUAL to
    split i get odd id 2i+1, so every split value owns a dedicated
    tie bucket, which is what makes heavy-tie sub-splitting
    order-correct (all its rows are equal on the key).  Computed as
    ``2·#(<key) + array_contains`` — one lambda pass, not two (the
    second filter's py4j/codegen cost was measurable at bench).
    The key is never NULL: :func:`_bucket_key` maps NULL to ±∞.

    Above ``_TWO_LEVEL_MIN`` splits the strictly-below count runs in
    two levels — chunk the sorted splits into ~√n chunks, count chunk
    BOUNDS (each chunk's last element) below the key to pick the one
    chunk the key can land in, then scan only that chunk — because
    the single flat scan is O(#splits) PER ROW and dominated construct
    at large bucket counts (29 s of 39 s at B=4096 on 2M rows; 1.4 s
    two-level).  Chunks before the picked one hold only values < key
    and chunks after only values ≥ key, so ``#(<key) = chunk_index ×
    chunk_size + #(<key within chunk)`` exactly; the index is clamped
    to the last chunk (ANSI ``element_at`` would error past the end
    when the key exceeds every bound, and the count stays correct
    because only the LAST chunk may be short).  A key EQUAL to some
    split always lands in its own chunk unclamped, so the tie test
    only needs ``array_contains`` on that chunk.  Still a pure
    function of the value — literals only."""
    if not splits:
        return F.lit(0)
    sp = [float(s) for s in splits]
    if len(sp) <= _TWO_LEVEL_MIN:
        arr = F.lit(sp)
        below = F.size(F.filter(arr, lambda s: s < key))
        if not tie_buckets:
            return below
        at = F.coalesce(F.array_contains(arr, key).cast("int"), F.lit(0))
        return below * 2 + at
    c = math.isqrt(len(sp) - 1) + 1
    chunks = [sp[i : i + c] for i in range(0, len(sp), c)]
    bounds = F.lit([ch[-1] for ch in chunks])
    ci = F.least(
        F.size(F.filter(bounds, lambda b: b < key)), F.lit(len(chunks) - 1)
    )
    chunk = F.element_at(F.lit(chunks), ci + 1)
    below = ci * F.lit(c) + F.size(F.filter(chunk, lambda s: s < key))
    if not tie_buckets:
        return below
    at = F.coalesce(F.array_contains(chunk, key).cast("int"), F.lit(0))
    return below * 2 + at


#: |value| bound under which long/timestamp-micros survive the cast
#: to double exactly (doubles hold integers up to 2^53).
_EXACT_ABS = float(1 << 53)


def _inj_evidence(df: DataFrame, col: Column, tag: str = ""):
    """(extra agg columns, per-bucket gate) guarding tie-bucket
    REFINEMENT — the correctness condition the round-4 fuzz caught:

    A "tie bucket" holds rows equal on the PROJECTED key.  Sub-
    splitting it on the NEXT order column is order-correct only when
    its rows are equal on the TRUE column — which the projection
    guarantees only where it is injective.  The NaN→+∞ map is not
    when real ±∞ values share the bucket; neither is a long /
    timestamp-micros beyond 2^53 (double cast rounds), or a decimal
    with precision > 15 digits.  (String windows collect their own
    no-NUL + fully-consumed evidence in the refinement loop, which
    also lets them CONTINUE on deeper windows of the same column
    without any gate.)  Rather than assume, the bucket jobs
    that already run collect per-bucket EVIDENCE and the driver gates
    which tie buckets may be refined deeper; ungated buckets keep
    their (correct, possibly oversized) one-level sub-split — the
    in-bucket sort on the true columns restores exact order either
    way, only balance is at stake.

    Returns ``([], gate)`` with a constant gate for types whose
    projection is injective by construction (int/date/boolean,
    decimal ≤ 15 digits) or provably never (decimal > 15 digits);
    otherwise one or two tiny aggregate columns (aliased with
    ``tag`` so multi-metric jobs can carry several) plus a gate
    reading them.  NULL rows count as lossy only for float/double:
    every other projection maps NULL to ±∞ in a domain no gated real
    value reaches, but a real double -Infinity DOES reach the NULL
    image (asc and desc both), so the double gate also
    fails when NULLs coexist with real infinities."""
    from pyspark.sql import types as T

    dt = _dtype(df, col)
    if isinstance(
        dt, (T.DateType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType)
    ):
        return [], lambda r: True
    if isinstance(dt, T.DecimalType):
        # ≤ 15 significant digits round-trip through double uniquely
        ok = dt.precision <= 15
        return [], lambda r, ok=ok: ok
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        d = col.cast("double")
        aggs = [
            F.sum(F.isnan(d).cast("long")).alias(f"__nan{tag}"),
            F.sum((F.abs(d) == float("inf")).cast("long")).alias(f"__inf{tag}"),
            F.sum(col.isNull().cast("long")).alias(f"__nulv{tag}"),
        ]
        # Two lossy collisions exist for float/double, both involving
        # a real ±∞ in the bucket: NaN's +∞ image, and NULL's ±∞
        # image (:func:`_bucket_key` maps NULL to -∞ asc / +∞ desc —
        # exactly where a real -Infinity lands after the
        # sign handling, while every other type's NULL image sits
        # outside the reachable domain).  An all-NaN / all-inf /
        # all-NULL tie bucket is genuinely all-equal, so only the
        # coexistence cases fail the gate.
        return aggs, lambda r: not (
            int(r[f"__inf{tag}"] or 0)
            and (int(r[f"__nan{tag}"] or 0) or int(r[f"__nulv{tag}"] or 0))
        )
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        ind = F.unix_micros(col).between(-_EXACT_ABS, _EXACT_ABS)
    elif isinstance(dt, T.LongType):
        ind = col.between(-_EXACT_ABS, _EXACT_ABS)
    else:
        # strings never reach here — the refinement loop collects its
        # own window evidence (no-NUL + fully-consumed) and leading
        # keys reject strings outright
        return [], lambda r: False
    aggs = [F.sum((~ind).cast("long")).alias(f"__lossy{tag}")]
    return aggs, lambda r: int(r[f"__lossy{tag}"] or 0) == 0


def _refine_loop(
    tagged: DataFrame,
    bcol: str,
    order: list[tuple[Column | str, bool]],
    n: int,
    counts: dict[int, int],
    tie_ids: set[int],
    recount,
) -> DataFrame:
    """Sub-split oversized TIE buckets on later order columns.

    ``counts`` are the current per-bucket row counts (already
    collected); ``tie_ids`` the bucket ids whose rows are all EQUAL on
    the order prefix so far (only those may be sub-split without
    breaking the global order).  ``recount`` re-collects per-bucket
    aggregates after a remap.  Extra jobs (one grouped splits
    aggregate + one recount per level) run ONLY when skew is detected;
    the loop walks at most len(order)-1 levels.

    Tie buckets created at a level hold rows equal on that level's
    PROJECTION.  Two refinement moves exist, with different proof
    obligations:

    * CONTINUATION (string columns only): refine the same column on
      its next 6-byte window.  Always order-correct — rows tied on
      windows 1..k are ordered by window k+1 consistently with the
      full string comparison — so no evidence is needed; the loop
      walks windows while some oversized bucket still has bytes left.
    * NEXT COLUMN: refine on ``order[level+1]``.  Correct only when
      the bucket's rows are equal on the TRUE current column, which
      the projection guarantees only where injective — so each bucket
      carries an eligibility flag from per-bucket evidence collected
      inside the same grouped splits job (:func:`_inj_evidence` for
      numeric projections; no-NUL + fully-consumed for string
      windows).  Unflagged buckets stay oversized rather than risk
      interleaving conflated values.

    An order column whose type has NO monotone projection (arrays,
    structs, ...) STOPS refinement outright: skipping it and
    sub-splitting on a later column would interleave rows that still
    differ on the skipped column (a reproduced rank inversion, see
    tests/test_rank.py::test_unprojectable_middle_column_stops_refinement).
    """
    from pyspark.sql import types as T

    level = 1
    off = 1  # 1-based byte offset of the current string window
    cont = False  # are tie_ids continuation ties of order[level] itself?
    flags = {b: True for b in tie_ids}  # may advance past their column
    stages = 0
    while level < len(order) and tie_ids and stages < _MAX_REFINE_STAGES:
        total = sum(counts.values())
        threshold = max(_SKEW_FACTOR * total / max(n, 1), float(_MIN_SKEW_ROWS))
        eligible = (
            tie_ids if cont else {b for b in tie_ids if flags.get(b, False)}
        )
        oversized = sorted(
            b for b, c in counts.items() if b in eligible and c > threshold
        )
        if not oversized:
            break
        next_col, next_asc = order[level]
        col = _resolve(next_col)
        is_str = isinstance(_dtype(tagged, col), T.StringType)
        key = _bucket_key(
            tagged,
            col,
            next_asc,
            allow_string=True,
            soft=True,
            str_offset=off,
        )
        if key is None:
            break  # unprojectable column: cannot be skipped (see above)
        ideal = max(total / max(n, 1), 1.0)
        sub_n = min(n, math.ceil(max(counts[b] for b in oversized) / ideal))
        if sub_n < 2:
            break
        stages += 1  # every path past here runs the grouped stage job
        if is_str:
            # evidence for (a) advancing past this column — every row
            # consumed within the covered windows and NUL-free, so
            # tied-on-all-windows ⇒ equal strings — and (b) whether a
            # deeper window can still discriminate (__over > 0).
            # NULL rows are neither: they map to ±∞, a bucket no real
            # string shares.
            ev_aggs = [
                F.sum(F.contains(col, F.lit("\x00")).cast("long")).alias("__nul"),
                F.sum((F.octet_length(col) > off + 5).cast("long")).alias(
                    "__over"
                ),
                # NULL count powers the mixed-bucket check in _disc:
                # F.min/F.max skip NULLs, so min==max alone cannot
                # prove column equality for a bucket holding both NULL
                # and non-null rows — those differ on THIS column
                # (NULLS FIRST/LAST), and advancing past it would
                # interleave them on a later column's sub-split
                F.sum(F.isnull(col).cast("long")).alias("__nulv"),
                # min/max power the WINDOW JUMP: by the lexicographic
                # sandwich property every row between a bucket's min
                # and max shares their common byte prefix, so the
                # driver can read off the first divergent byte and
                # skip the all-equal windows in one hop instead of
                # walking them 6 bytes at a time
                F.min(col).alias("__mn"),
                F.max(col).alias("__mx"),
            ]

            def ev_gate(r):
                return (
                    int(r["__nul"] or 0) == 0 and int(r["__over"] or 0) == 0
                )

        else:
            ev_aggs, ev_gate = _inj_evidence(tagged, col)
        srows = (
            tagged.where(F.col(bcol).isin([int(b) for b in oversized]))
            .groupBy(bcol)
            .agg(_splits_agg(key, sub_n, "s"), *ev_aggs)
            .collect()
        )
        subsplits = {r[bcol]: _scheme(r["s"]) for r in srows}
        refinable = {r[bcol]: ev_gate(r) for r in srows}
        has_more = (
            {r[bcol]: int(r["__over"] or 0) > 0 for r in srows} if is_str else {}
        )
        if is_str:
            # a bucket whose window is all-equal (splits collapse to
            # one tied value) gains nothing from a remap; when EVERY
            # oversized bucket is like that, jump the offset straight
            # to the first byte where some bucket's strings diverge
            # (1 job spent on discovery instead of a remap+recount
            # pair per 6-byte window of shared prefix)
            def _disc(r):
                mn, mx = r["__mn"], r["__mx"]
                if mn is None or mx is None:
                    return None  # all-NULL bucket: equal on the column
                if int(r["__nulv"] or 0) > 0:
                    # NULL rows coexist with non-null rows: they
                    # diverge INSIDE every window (NULL maps to ±∞ in
                    # the remap key, a bucket no real string shares),
                    # regardless of min==max on the non-null side.
                    # Returning the window start blocks both the
                    # PROOF-advance and the jump, forcing the remap —
                    # which separates NULLs order-correctly.
                    return off
                if mn == mx:
                    return None
                bmn, bmx = mn.encode("utf-8"), mx.encode("utf-8")
                k = 0
                lim = min(len(bmn), len(bmx))
                while k < lim and bmn[k] == bmx[k]:
                    k += 1
                return k + 1  # 1-based first divergent byte

            degenerate = {
                b: (len(subsplits.get(b, ([], False))[0]) == 1
                    and subsplits.get(b, ([], False))[1])
                for b in oversized
            }
            if all(degenerate.values()):
                disc = {r[bcol]: _disc(r) for r in srows}
                divergent = [
                    d for b in oversized if (d := disc.get(b)) is not None
                ]
                if not divergent:
                    # NO bucket diverges anywhere: rows are equal on
                    # the whole column (null-free with min==max, or
                    # all NULL — a NULL/non-null mix counts as
                    # divergent above, since min/max skip NULLs) — PROOF
                    # of column equality, stronger than the window
                    # evidence, so these buckets also become
                    # advance-eligible.  Degenerate splits alone are
                    # NOT that proof: a value holding ~(1-1/sub_n) of
                    # a bucket's mass collapses every percentile frac
                    # onto itself while the remaining rows still
                    # diverge INSIDE the current window.
                    for b in oversized:
                        flags[b] = True
                    level += 1
                    off = 1
                    cont = False
                    continue
                if min(divergent) > off + 5:
                    # every divergent bucket first diverges PAST the
                    # current window: jump straight to the earliest
                    # divergent byte (buckets with a later one are
                    # equal on the jumped window — still monotone;
                    # disc=None buckets are equal on the whole
                    # column, safe under any window).  tie_ids are
                    # NOT remapped here, so ``cont`` must stay as-is:
                    # on a level entered with cont=False they still
                    # carry the previous column's evidence, and a
                    # flags=False bucket excluded this iteration must
                    # stay excluded on the jumped window too.
                    off = min(divergent)
                    continue
                # else: some bucket diverges WITHIN the current window
                # despite the collapsed splits (dominant-value skew).
                # Fall through to the remap — the single tied split
                # still separates <v / =v / >v, which is real
                # progress for exactly those buckets.
        if not any(subsplits.get(b, ([], False))[0] for b in oversized):
            break  # degenerate splits: no progress possible here
        # remap: untouched buckets keep one slot; each oversized tie
        # bucket expands to |subsplits|+1 slots (smooth next key) or
        # 2·|subsplits|+1 slots (even/odd again) — sub-tie buckets
        # inherit their parent's advance-eligibility evidence
        nb = max(counts) + 1
        over = set(oversized)
        base, slot, new_tie, new_flags = [], 0, set(), {}
        for b in range(nb):
            base.append(slot)
            if b in over:
                sp, sub_tie = subsplits.get(b, ([], False))
                if sub_tie:
                    ids = [slot + 2 * i + 1 for i in range(len(sp))]
                    new_tie.update(ids)
                    for t_ in ids:
                        new_flags[t_] = refinable.get(b, False)
                    slot += 2 * len(sp) + 1
                else:
                    slot += len(sp) + 1
            else:
                slot += 1
        sub = F.lit(0)
        for b in oversized:
            sp, sub_tie = subsplits.get(b, ([], False))
            if sp:
                sub = F.when(
                    F.col(bcol) == int(b), _bucket_expr(sp, key, sub_tie)
                ).otherwise(sub)
        base_arr = F.element_at(F.lit(base), F.col(bcol) + 1)
        tagged = tagged.withColumn(bcol, (base_arr + sub).cast("int"))
        tie_ids, flags = new_tie, new_flags
        counts = recount(tagged)
        if is_str and any(has_more.get(b, False) for b in oversized):
            off += 6  # stay on this column: deeper window next
            cont = True
        else:
            level += 1
            off = 1
            cont = False
    return tagged


def _tag_balanced(
    df: DataFrame,
    orders: list[list[tuple[Column | str, bool]]],
    n: int,
    extra_aggs: list[Column],
) -> tuple[DataFrame, list[tuple[str, dict]], int]:
    """Tag ``df`` with one balanced bucket column per order — the one
    tagging path of every primitive here: ONE splits job over every
    leading key, ONE counts job, then per order the leading-key
    injectivity gate and skew refinement when needed.  Returns
    ``(tagged, [(bucket column, per-bucket agg Rows keyed by bucket
    id) per order], total rows)``.

    A single order buckets into ``_BUCKET`` and counts with a plain
    ``groupBy``; several orders bucket into ``_BUCKET_<i>`` and count
    in one GROUPING SETS aggregate (single scan + Expand;
    ``grouping_id`` tells the sets apart).  The counts job piggybacks
    the injectivity evidence and any caller aggregates (e.g.
    per-bucket sums) at zero extra passes; a refined order recounts
    its caller aggregates.  NULL leading keys need no check: they
    bucket at ±∞ like every other NULL order value."""
    tags = [""] if len(orders) == 1 else [f"_{i}" for i in range(len(orders))]
    bcols = [_BUCKET + t for t in tags]
    leads = [_resolve(order[0][0]) for order in orders]
    keys = [_bucket_key(df, lead, o[0][1]) for lead, o in zip(leads, orders)]
    # job 1: every order's equi-depth splits in one aggregate
    row = None
    if n > 1:
        row = df.select(
            *[_splits_agg(k, n, f"s{t}") for k, t in zip(keys, tags)]
        ).first()
    schemes = [
        _scheme(row[f"s{t}"]) if row is not None else ([], False) for t in tags
    ]
    tagged = df
    for c, k, (sp, tie) in zip(bcols, keys, schemes):
        tagged = tagged.withColumn(c, _bucket_expr(sp, k, tie))
    inj = [_inj_evidence(df, lead, t) for lead, t in zip(leads, tags)]
    cnt = F.count(F.lit(1)).alias("__cnt")
    aggs = [cnt, *[a for inj_aggs, _ in inj for a in inj_aggs], *extra_aggs]
    # job 2: per-(order, bucket) counts
    if len(orders) == 1:
        rows = tagged.groupBy(bcols[0]).agg(*aggs).collect()
        per = [{r[bcols[0]]: r for r in rows}]
    else:
        rows = (
            tagged.groupingSets([[c] for c in bcols], *bcols)
            .agg(*aggs, F.grouping_id(*bcols).alias("__gid"))
            .collect()
        )
        # grouping_id bit i (from the LEFT) is 0 when bcols[i] is grouped
        mask = (1 << len(bcols)) - 1
        gids = [mask & ~(1 << (len(bcols) - 1 - i)) for i in range(len(bcols))]
        per = [{r[c]: r for r in rows if r["__gid"] == g} for c, g in zip(bcols, gids)]

    def counts(i: int) -> dict[int, int]:
        return {b: int(r["__cnt"]) for b, r in per[i].items()}

    for i, (c, order, (sp, tie), (_, gate)) in enumerate(
        zip(bcols, orders, schemes, inj)
    ):
        # a LEADING-key tie bucket may be refined only when the bucket's
        # rows are provably equal on the TRUE column, not just on its
        # projection (NaN vs real ∞, 2^53-rounded longs, > 15-digit
        # decimals) — same gate as deeper levels, evidence from the
        # counts job already collected above
        tie_ids = {2 * j + 1 for j in range(len(sp))} if tie else set()
        tie_ids = {b for b in tie_ids if b not in per[i] or gate(per[i][b])}

        def recount(t: DataFrame, c: str = c, i: int = i) -> dict[int, int]:
            per[i] = {r[c]: r for r in t.groupBy(c).agg(cnt, *extra_aggs).collect()}
            return counts(i)

        tagged = _refine_loop(tagged, c, order, n, counts(i), tie_ids, recount)
    # order 0's buckets cover every row exactly once
    return tagged, list(zip(bcols, per)), sum(counts(0).values())


def _window(bcol: str, order: list[tuple[Column | str, bool]]) -> Window:
    """The in-bucket sort on the TRUE order columns — a hash shuffle on
    the bucket column, never a single partition."""
    return Window.partitionBy(bcol).orderBy(
        *[(_resolve(c).asc() if asc else _resolve(c).desc()) for c, asc in order]
    )


def _ranked(
    tagged: DataFrame,
    bcol: str,
    order: list[tuple[Column | str, bool]],
    rows: dict,
    rank_col: str,
) -> tuple[DataFrame, Window]:
    """Exact global rank: local ``row_number`` inside each bucket plus
    the bucket's literal offset (the row count of every earlier
    bucket, from the per-bucket ``__cnt``).  Returns the ranked frame
    and the window, which running aggregates reuse."""
    nb = (max(rows) + 1) if rows else 1
    counts = [int(rows[b]["__cnt"]) if b in rows else 0 for b in range(nb)]
    offsets = list(accumulate(counts[:-1], initial=0))
    off = F.element_at(F.lit(offsets), F.col(bcol) + 1).cast("long")
    w = _window(bcol, order)
    return tagged.withColumn(rank_col, F.row_number().over(w).cast("long") + off), w


def _exclusive_prefix(rows: dict, field: str, combine) -> tuple[Column, object]:
    """Fold the per-bucket ``field`` values into a literal EXCLUSIVE
    prefix — bucket b reads the ``combine`` of every earlier bucket's
    value, NULL before the first value — indexed by ``_BUCKET``.
    Returns the prefix column and the fold over all buckets (the
    grand total of a running sum).  Exact for any commutative,
    associative ``combine``; NULL values are skipped."""
    nb = (max(rows) + 1) if rows else 1
    lits, acc = [], None
    for b in range(nb):
        lits.append(F.lit(acc))
        v = rows[b][field] if b in rows else None
        if v is not None:
            acc = v if acc is None else combine(acc, v)
    return F.element_at(F.array(*lits), F.col(_BUCKET) + 1), acc


@dataclass(frozen=True)
class GlobalRank:
    df: DataFrame
    total: int  # total row count (driver-known, from the bucket counts)
    running_total: object = None  # grand total of ``running_sum``, if requested


def global_rank(
    df: DataFrame,
    order: list[tuple[Column | str, bool]],
    *,
    rank_col: str = "rank",
    num_buckets: int | None = None,
    running_sum: tuple[Column | str, str] | None = None,
    sum_type: str | None = None,
) -> GlobalRank:
    """Exact global row_number over ``order`` — without ever moving
    the data through one partition.

    ``order`` is ``[(column, ascending), ...]`` and MUST be a total
    order (unique tiebreaker last).  Returns the tagged DataFrame
    plus the driver-known total row count, which lets
    ntile/percent_rank be pure literal arithmetic on the rank.

    The leading key may be NULL-bearing: NULL rows bucket at ±∞ and
    take Spark's window placement — FIRST ascending, LAST descending —
    in the same single pass.  It may also be a STRING: the monotone
    6-byte prefix code (:func:`_bucket_key`'s string projection) is
    prepended as a numeric leading column, since ordering by (code,
    s, …) equals ordering by (s, …), and prefix-tied code buckets
    sub-split on the string itself through the continuation
    refinement.  Unprojectable types (array/struct) still fail loudly.

    ``running_sum=(value_col, out_name)`` additionally emits the
    INCLUSIVE running sum of ``value_col`` in rank order — same
    bucketing, same window pass, one extra column in the tiny
    per-bucket aggregate (the vocabulary-coverage / Pareto-curve
    shape).  ``sum_type`` pins the accumulation type (e.g.
    ``"decimal(30,10)"``) so literal-prefix + window-sum promotion
    can't silently drop scale at the 38-precision cap.

    Plan shape: scan → [splits agg job] → scan+bucket → [counts agg
    job] → hash Exchange on bucket → per-bucket sort + Window →
    project.  Heavy leading-key ties (Zipfian frequency ranks) are
    isolated into dedicated tie buckets and sub-split on the next
    order column when the counts job detects skew — see the module
    docstring.  No ``Exchange SinglePartition`` anywhere
    (tests/test_plans.py asserts this).

    Tuning knobs:

    * ``num_buckets`` — parallelism of the final per-bucket sort;
      defaults to ``spark.sql.shuffle.partitions``.  Size it so
      total/num_buckets rows fit one task comfortably (the same rule
      as any shuffle partition); above 64 splits the per-row bucket
      lookup automatically switches to a two-level √B scheme, so
      large B costs O(2√B) per row, not O(B).
    * Percentile accuracy self-tunes: the split job runs
      ``percentile_approx`` at ``max(10_000, 20·num_buckets)``, so
      bucket-boundary error stays ≤ ~ideal/20 at any B — there is no
      accuracy parameter to set, and approximation NEVER affects rank
      correctness (only balance): exactness comes from counting real
      bucket sizes, and skewed buckets are detected and refined.
    """
    from pyspark.sql import types as T

    lead, lead_asc = _resolve(order[0][0]), order[0][1]
    if isinstance(_dtype(df, lead), T.StringType):
        code = "__gr_strlead_code"
        df = df.withColumn(code, _bucket_key(df, lead, lead_asc, allow_string=True))
        gr = global_rank(
            df,
            [(code, True), *order],
            rank_col=rank_col,
            num_buckets=num_buckets,
            running_sum=running_sum,
            sum_type=sum_type,
        )
        return GlobalRank(gr.df.drop(code), gr.total, gr.running_total)
    n = _num_buckets(df, num_buckets)
    sum_val = _resolve(running_sum[0]) if running_sum else None
    if sum_val is not None and sum_type:
        sum_val = sum_val.cast(sum_type)
    extra = [F.sum(sum_val).alias("__sum")] if sum_val is not None else []
    tagged, [(_, by_bucket)], total = _tag_balanced(df, [order], n, extra)
    out, w = _ranked(tagged, _BUCKET, order, by_bucket, rank_col)
    running_total = None
    if sum_val is not None:
        pre, running_total = _exclusive_prefix(by_bucket, "__sum", operator.add)
        local = F.sum(sum_val).over(w.rowsBetween(Window.unboundedPreceding, 0))
        if sum_type:
            pre = pre.cast(sum_type)
            local = local.cast(sum_type)
        out = out.withColumn(
            running_sum[1],
            F.when(pre.isNull(), local).otherwise(pre + local),
        )
    return GlobalRank(out.drop(_BUCKET), total, running_total)


def ntile_from_rank(rank: Column, total: int, k: int) -> Column:
    """Exact SQL ``ntile(k)`` from a total-order rank and driver-known
    row count: the first ``total mod k`` tiles get ``⌈total/k⌉`` rows
    — bit-identical to Spark's and DuckDB's ntile when the underlying
    order is total."""
    base, rem = divmod(int(total), k)
    cut = rem * (base + 1)
    big = F.floor((rank - F.lit(1)) / F.lit(base + 1)) + F.lit(1)
    small = (
        F.lit(rem) + F.floor((rank - F.lit(1 + cut)) / F.lit(max(base, 1))) + F.lit(1)
    )
    return F.when(F.lit(rem == 0), small).otherwise(
        F.when(rank <= F.lit(cut), big).otherwise(small)
    ).cast("int")


def global_running_agg(
    df: DataFrame,
    order: list[tuple[Column | str, bool]],
    value: Column | str,
    agg: str = "max",
    *,
    out_col: str = "running",
    exclusive: bool = True,
    num_buckets: int | None = None,
    sum_type: str | None = None,
) -> DataFrame:
    """Global running aggregate over ``order`` (default: exclusive
    running max — the 2-D skyline dominance test) with the same
    bucketed shape as :func:`global_rank`: the in-bucket running
    value combines with the literal prefix-aggregate of all EARLIER
    buckets, which is exact for any commutative/associative agg.
    Supported: ``max``, ``min``, ``sum``.  ``sum_type`` pins the
    accumulation type for sums; ``num_buckets`` and the self-tuned
    percentile accuracy behave exactly as documented on
    :func:`global_rank`."""
    # (window aggregate, prefix ⊕ local combine, driver-side fold)
    fns = {
        "max": (F.max, F.greatest, max),
        "min": (F.min, F.least, min),
        "sum": (F.sum, None, operator.add),
    }
    if agg not in fns:
        raise ValueError(
            f"global_running_agg supports agg in ('max', 'min', 'sum'); got {agg!r}"
        )
    agg_fn, comb_fn, fold = fns[agg]
    n = _num_buckets(df, num_buckets)
    val = _resolve(value)
    if agg == "sum" and sum_type:
        val = val.cast(sum_type)
    tagged, [(_, by_bucket)], _ = _tag_balanced(
        df, [order], n, [agg_fn(val).alias("__v")]
    )
    pre, _ = _exclusive_prefix(by_bucket, "__v", fold)
    frame_end = -1 if exclusive else 0
    w = _window(_BUCKET, order).rowsBetween(Window.unboundedPreceding, frame_end)
    local = agg_fn(val).over(w)
    if agg == "sum":
        if sum_type:
            pre = pre.cast(sum_type)
            local = local.cast(sum_type)
        combined = (
            F.when(pre.isNull(), F.coalesce(local, F.lit(0)))
            .otherwise(pre + F.coalesce(local, F.lit(0)))
        )
        # exclusive sum over an empty frame is NULL both engines →
        # only null when no prefix either
        combined = F.when(pre.isNull() & local.isNull(), F.lit(None)).otherwise(combined)
    else:
        combined = comb_fn(pre, local)  # greatest/least skip NULLs
    return tagged.withColumn(out_col, combined).drop(_BUCKET)


def multi_global_rank(
    df: DataFrame,
    specs: list[tuple[str, list[tuple[Column | str, bool]]]],
    *,
    num_buckets: int | None = None,
) -> tuple[DataFrame, int]:
    """Several exact global ranks over DIFFERENT orders of the same
    input, sharing the construct-time jobs — the multi-metric
    quantile shape (RFM's three quintile cuts).

    ``specs`` is ``[(rank_col, order), ...]`` with ``order`` as in
    :func:`global_rank`.  Cost collapses from 2·|specs| jobs to 2:
    the shared tagger's ONE aggregate computes every metric's
    percentile splits and its ONE GROUPING SETS aggregate (single
    scan + Expand) counts rows per (metric, bucket) — then each rank
    is a hash-partitioned window over its own bucket column on the
    SAME DataFrame, so callers need no join-back to combine the rank
    columns.  Tie-skew is checked per metric from the shared counts;
    only a metric that IS skewed pays its own refinement jobs (see
    module docstring).  NULL leading keys rank like Spark's window, as
    in :func:`global_rank`.  ``num_buckets``
    and the self-tuned percentile accuracy behave exactly as
    documented on :func:`global_rank` (shared across all specs).

    Returns ``(df + one rank column per spec, total_rows)``.
    """
    n = _num_buckets(df, num_buckets)
    out, buckets, total = _tag_balanced(df, [order for _, order in specs], n, [])
    for (name, order), (bcol, rows) in zip(specs, buckets):
        out, _ = _ranked(out, bcol, order, rows, name)
    return out.drop(*[bcol for bcol, _ in buckets]), total
