"""Connected components over an edge DataFrame.

The dedup pipeline's cluster-formation step (queries/llm.py
j8f_dedup_clusters) needs transitive closure over near-dup pairs.
The reference has no graph surface at all (SURVEY.md §2 — pure
batch classifier), so this is driver-mandated extension territory;
the algorithm is Pregel-style min-label propagation expressed as
plain DataFrame joins, the same scheme GraphX/GraphFrames use.

Scale contract: each round is ONE shuffle keyed on the node id (the
edge-message join + min merge) plus an O(|V|) scan for the
convergence fingerprint; rounds needed = max component diameter.
Near-dup clusters are shallow (a handful of variants of one
document, not a social graph), so this converges in single-digit
rounds at any corpus size.  ``localCheckpoint`` truncates lineage so
the iterated plan never deepens.

Round-4 construct-cost cuts (j31's bench time is ~all CC rounds):

* init is FUSED with the first propagation round — every node starts
  at ``min(own id, min neighbor id)``, computed by the same
  node-keyed shuffle the old plain ``distinct()`` paid;
* convergence is detected from an exact decimal SUM of the labels
  (labels only ever decrease, so an unchanged sum is a fixpoint) —
  an O(|V|) scan of the checkpointed labels, replacing the old
  join-back-to-previous-labels + count, i.e. one fewer shuffle join
  per round;
* non-convergence within ``max_iter`` now RAISES instead of silently
  returning non-fixpoint labels.

Round-12 (optimization round) action fusion: every ``localCheckpoint``
here is LAZY (``eager=False``).  A lazy local checkpoint marks the
RDD persisted + lineage-truncated but runs no job of its own — the
NEXT action (the convergence fingerprint, which needs every partition
because its aggregate is global) materializes it as a side effect.
That halves the driver actions per round (materialize+fingerprint ride
ONE job instead of two) and drops the separate edge/init materialize
jobs entirely: 5 actions for a 2-round run became 2.  At scale the
same fusion removes one full pass over the label table per round (the
fingerprint scan previously re-read what the checkpoint job had just
written).  Measured at sf0.1 (interleaved A/B, OPTIMIZATION_r12.md
batch 3): NEUTRAL locally — j31 construct min 1.73 s eager vs 1.82 s
lazy, inside session noise; j31's construct is the pairs
inverted-index join + 2 CC rounds and sits near its structural floor.
Kept for the at-scale one-pass-per-round saving, not a local win.
(An earlier interim "2.64 s → ~1.4 s" reading did not reproduce and
is retracted.)  Results identical either way (oracle hash unchanged).

The edges are symmetrized in ONE scan: each edge explodes into itself
and its reverse (an array of two structs).  The upstream edge pipeline
— for j8f/j31 the whole exact-Jaccard pairs plan — is then planned
and run once inside the ``sym`` checkpoint.  A union of two selects
planned it twice, and Spark reused none of the two copies' exchanges
(with j8f's size-carrying Jaccard, j8f/j31 construct jobs went from
24 to 13 at sf0.001; the checkpoint execution from 16 to 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FPRINT_EXPRS = (
    lambda: F.sum(F.col("lab").cast("decimal(38,0)")).alias("s"),
    lambda: F.sum(
        (F.col("lab").isNull() | F.col("node").isNull()).cast("long")
    ).alias("nn"),
)


def _check_fingerprint(row):
    """Shared NULL guard for the fingerprint, whether it came from a
    driver agg or an Observation."""
    if int(row["nn"] or 0):
        raise ValueError(
            "connected_components: NULL node ids / labels in the "
            "propagation — edge endpoints must be non-null integers"
        )
    return row["s"]


def _label_sum(labels: DataFrame):
    """Exact decimal sum of labels — the convergence fingerprint.
    decimal(38,0) cannot overflow (10⁹ nodes × 10⁹ max id ≪ 10³⁸)
    and is exact, unlike a double sum.  Any NULL label (a NULL node
    id slipping through the edges) would poison the fingerprint —
    ``sum`` skips NULLs, so two rounds could compare equal while the
    NULL rows churn, and an all-NULL sum would compare None == None
    and fake convergence after one propagation — so NULL labels
    raise; the check rides the same O(|V|) scan."""
    row = labels.agg(*(e() for e in _FPRINT_EXPRS)).first()
    return _check_fingerprint(row)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 16,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the minimum
    node id of its component.

    ``edges`` is treated as DIRECTED input and symmetrized here, so
    callers may pass each undirected pair once.  Returns
    ``(node, component)``; isolated nodes (absent from ``edges``)
    don't appear — union them in as singletons if needed.  Raises
    if the propagation has not reached a fixpoint after ``max_iter``
    rounds (component diameter exceeds the budget) rather than
    returning wrong labels.
    """
    from pyspark.sql import types as T

    # The convergence fingerprint and the min-label lattice both need
    # node ids that survive the decimal cast exactly: a string/md5 id
    # sums to NULL (faking convergence, caught again in _label_sum)
    # and a fractional double can alias distinct nodes under the
    # round-to-integer cast — so reject anything non-integral up
    # front.  Callers with digest ids map them through a 64-bit hash
    # first — note Spark's ``conv`` returns a STRING, so the cast is
    # required: ``conv(substring(md5(x), 1, 15), 16, 10).cast("long")``
    # — which the dedup pipeline already does.
    for endpoint in (src, dst):
        dt = edges.schema[endpoint].dataType
        if not isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise TypeError(
                f"connected_components: node id column {endpoint!r} has "
                f"type {dt.simpleString()} — integral node ids required "
                "(map string/digest ids through a 64-bit hash first)"
            )
    # symmetrize in ONE scan of ``edges`` (see the module docstring):
    # each edge emits itself and its reverse; int/long endpoints widen
    # to long, as a union's would
    pair = lambda a, b: F.struct(F.col(a).alias("src"), F.col(b).alias("dst"))  # noqa: E731
    sym = (
        edges.select(F.explode(F.array(pair(src, dst), pair(dst, src))).alias("e"))
        .select("e.src", "e.dst")
        .localCheckpoint(eager=False)
    )

    # fused init + first propagation round: min(own id, min neighbor)
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("mn"))
        .select("node", F.least(F.col("node"), F.col("mn")).alias("lab"))
        .localCheckpoint(eager=False)
    )
    # Round-13 (guide §2.4 remove passes outright): the INIT
    # fingerprint no longer runs as its own driver job.  Round 1's
    # union branch scans the full init-label table anyway, so the
    # init sum rides that scan as an Observation (CollectMetrics) —
    # the same _FPRINT_EXPRS aggregates, collected as a side effect
    # of the round-1 job.  One driver job and one full pass over the
    # label table are gone from EVERY connected_components call (a
    # 2-round run does 2 jobs instead of 3); at 100 TB that is a full
    # O(|V|) scan saved per call.  Convergence semantics unchanged:
    # prev_sum is the identical decimal fingerprint and the NULL guard
    # still raises (now after the fused job, same error).  An empty
    # edge set never materializes the observation (the empty plan is
    # pruned), so it is read only when round 1 labeled some node; an
    # empty round-1 table implies an empty init table, whose sum is
    # the None that converges on the None == None compare.
    from pyspark.sql import Observation

    prev_sum = None
    rounds = 1
    converged = False
    # near-dup clusters converge in 2-3 plain rounds; a component
    # deeper than that gets pointer jumping (label ← label's label,
    # one extra label-keyed self-join per round) from round 4 on, so
    # convergence is O(log diameter) instead of O(diameter) and
    # max_iter=16 covers any realistic component
    _JUMP_AFTER = 3
    for it in range(max_iter):
        msgs = sym.join(labels.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), "lab"
        )
        own = labels
        init_obs = None
        if it == 0:
            init_obs = Observation()
            own = labels.observe(init_obs, *(e() for e in _FPRINT_EXPRS))
        # one node-keyed shuffle per round: neighbors' labels merged
        # with own via min.  (msgs only mention nodes already labeled,
        # so the union covers every node exactly once plus messages.)
        labels = (
            own.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )
        if rounds >= _JUMP_AFTER:
            hop = labels.select(
                F.col("node").alias("lab"), F.col("lab").alias("lab2")
            )
            labels = labels.join(hop, "lab", "left").select(
                "node", F.least("lab", F.coalesce("lab2", "lab")).alias("lab")
            )
        labels = labels.localCheckpoint(eager=False)
        rounds += 1
        s = _label_sum(labels)
        if init_obs is not None and s is not None:
            prev_sum = _check_fingerprint(init_obs.get)
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        raise ValueError(
            f"connected_components did not converge in {max_iter} rounds — "
            "component diameter exceeds the budget; raise max_iter"
        )
    return labels.select("node", F.col("lab").alias("component"))
