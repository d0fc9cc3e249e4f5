"""Near-duplicate clustering: connected components over dup-pair edges.

Pair-level dedup (dedup.py) answers "are A and B duplicates"; a real
training-data pipeline needs the transitive closure — duplicate
CLUSTERS — so it can keep one canonical document per cluster (A~B,
B~C ⇒ {A,B,C} is one group even when A~C was never scored). This
module computes components with iterative min-label propagation over
DataFrames: each round every node adopts the smallest component id
seen among itself and its neighbors; at fixpoint the id IS the
cluster's minimum doc_id (the canonical-keeper rule dedup_exact
already uses).

Scale posture: an edge set that fits the session's broadcast budget
(``autoBroadcastJoinThreshold // _VERDICT_ROW_BYTES`` edges, ~164k at
the default) is collected in ONE job and closed on the driver by
union-find — a near-dup graph of a few hundred edges otherwise pays
a driver barrier per round for almost no work. Past that cap nothing
graph-sized touches the driver: each round is one shuffle join
(edges ⋈ labels) + one aggregation, state bounded by |V| + |E|.
TWO distributed algorithms live behind the same (edges -> labels)
contract:

- **min-label propagation** (``algorithm="minlabel"``): rounds =
  graph diameter / 2 (two hops per round). Cheapest per round; the
  right choice for near-dup graphs, which are dense little cliques
  (diameter 1-3).
- **large-star/small-star** (``algorithm="star"``, Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14): edge
  rewriting that converges in O(log n) rounds REGARDLESS of
  diameter — the scale path for long-chain graphs (entity-resolution
  link chains, citation graphs) where diameter-proportional rounds
  would serialize on the driver. Pinned by a long-chain convergence
  test (64-node chain, ≤ ⌈log2 d⌉ + 4 rounds).

``localCheckpoint`` after every round cuts the lineage — without it
the plan doubles per iteration and Catalyst analysis time explodes
long before the data does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_test_spark.llm.dedup import NGRAM_PAIR_CTES
from stream_processing_test_spark.llm.hashing import phash, phash_sql
from stream_processing_test_spark.registry import register
from stream_processing_test_spark.session import release_local_checkpoint

# min-label rounds before the auto path falls back to star: the
# measured crossover in BENCH_STAR_CROSSOVER.json (tools/star_crossover.py).
# It applies only above the driver cap: an edge set that fits the
# broadcast budget closes on the driver, which beat both distributed
# paths at 50k and 160k chain-forest edges (BENCH_NOTES §cc-driver).
MINLABEL_BUDGET = 4


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    algorithm: str = "auto",
    with_count: bool = False,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min
    node id reachable. Edges are undirected (one direction given).

    ``algorithm``:

    - ``"auto"`` (default): if the edge set fits the session's
      broadcast budget, :func:`_driver_components` collects it in one
      job and closes it on the driver (``dup_clusters`` 31 → 20 jobs;
      the labels are a ``LocalRelation``, and ``with_count`` costs
      nothing). Over that cap, or with broadcasting disabled:
      min-label propagation — measured fastest
      on the dense little cliques near-dup graphs are (sf0.1 real dup
      graph: 4.34 s vs star's 5.06 s, BENCH_r05) — but if it has not
      converged within ``MINLABEL_BUDGET`` rounds (8 hops: covers any
      diameter-8 component, far beyond realistic dup-cluster diameter
      1-3), fall back to the O(log d) large-star/small-star path
      instead of burning diameter-many driver barriers. The budget is
      a MEASURED crossover, not a chosen constant
      (BENCH_STAR_CROSSOVER.json, tools/star_crossover.py): on 50k-edge
      chain forests star's wall time is flat (~5-6 s at every diameter)
      while min-label grows linearly (9.2 s at d=8, 36 s at d=64), so
      every budget round past the clique regime only adds waste — 4
      rounds bounds that waste at roughly one extra star-run while
      still converging every realistic dup graph without fallback.
      Same result either way (both compute min-reachable-id), so the
      fallback is a physical choice, not a semantic one.
    - ``"minlabel"``: pure min-label; raises RuntimeError after
      ``max_iter`` rounds (each round = TWO propagation passes) —
      silent truncation would mislabel components, and callers that
      pin this path want the loud failure.
    - ``"star"``: pure large-star/small-star (see
      :func:`star_components`).

    The distributed min-label loop runs exactly ONE Spark job per
    round, and each round advances labels by
    TWO hops: the first propagation stays lazy inside the second's
    plan, the pair lands in a *lazy* ``localCheckpoint``, and the
    round's single action is a ``count()`` of rows the second pass
    changed — that one scan materializes every checkpoint block
    (truncating lineage for the next round) AND returns the
    convergence signal (a full pass that changes nothing IS the
    fixpoint proof, regardless of what the first pass did). Relative
    to one-hop rounds this halves the driver barriers and lineage
    checkpoints for the same total join work — the round count is what
    serializes the computation at 100 TB (asserted by job-count test
    in test_scale_layout). ``sym`` is hash-partitioned on ``src`` once
    before the loop, so every pass's edge⋈label join reuses that
    exchange instead of re-shuffling the (static) edge set.
    """
    if algorithm == "star":
        # documented asymmetry (ADVICE r16): on the star path (and the
        # auto->star fallback below) ``with_count`` pays a SEPARATE
        # count job — star's convergence job counts the edge-set diff,
        # not nodes, so the node count cannot ride it the way
        # minlabel's does. No bench caller reaches this: the
        # with_count callers (keep/leakage/curation) run on
        # low-diameter dup graphs that converge inside the minlabel
        # budget, and dup_clusters_star pins the star path WITHOUT
        # with_count.
        labels, _ = star_components(edges, src=src, dst=dst, max_iter=max_iter)
        return (labels, labels.count()) if with_count else labels
    if algorithm not in ("minlabel", "auto"):
        raise ValueError(f"unknown algorithm {algorithm!r}: auto|minlabel|star")
    if algorithm == "auto":
        local = _driver_components(edges, src, dst)
        if local is not None:
            labels, n_nodes = local
            return (labels, n_nodes) if with_count else labels
    budget = MINLABEL_BUDGET if algorithm == "auto" else max_iter
    # LAZY localCheckpoint, not persist() (r17): ``sym`` is consumed as
    # a ``{sym}`` parameter inside propagate()'s SQL every pass, and
    # Spark 4.1's df-parameter substitution does not match the
    # CacheManager — a persist() here was dead weight and every pass
    # re-ran the symmetrize+repartition shuffle (VERDICT r16 item 1).
    # A checkpointed frame substitutes as a `Scan ExistingRDD` of the
    # one pinned RDD (verified in-plan this round), so every pass
    # shares the materialized blocks with zero cache-matching involved;
    # round 1's convergence count materializes it (no extra job), and
    # Dataset.checkpoint preserves the repartition("src") output
    # partitioning, so the per-pass edge⋈label join still reuses that
    # one exchange.
    sym = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .union(edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")))
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    # LAZY checkpoint (r16): the init labels need lineage truncation
    # (round 2 must not replay the edge pipeline) but not their own
    # action — round 1's count materializes the checkpoint blocks and
    # populates sym's cache in the same job, removing one driver
    # barrier per CC query (job-count pinned in test_scale_layout).
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    def propagate(lbl: DataFrame) -> DataFrame:
        """(node, component) -> (node, old_component, component): one
        min-label pass. new = min(own, neighborhood min) <= old, so
        "changed" is exactly new < old. ONE parameterized-SQL round
        trip per pass (r16): the Column form was ~20 py4j calls, and a
        round trip is 1-10 ms on this host (OPTIMIZATION_r16.md
        §py4j) — per-round driver latency is exactly what serializes
        the loop."""
        return sym.sparkSession.sql(
            """SELECT l.node,
                      l.component AS old_component,
                      least(l.component,
                            coalesce(m.nbr_min, l.component)) AS component
               FROM {lbl} l
               LEFT JOIN (SELECT s.dst AS node,
                                 min(l2.component) AS nbr_min
                          FROM {sym} s JOIN {lbl2} l2 ON s.src = l2.node
                          GROUP BY s.dst) m
                 ON l.node = m.node""",
            lbl=lbl, sym=sym, lbl2=lbl,
        )

    try:
        prev_cp = labels  # round N's blocks are read by round N+1's
        for _ in range(budget):  # action; release them one round late
            mid = propagate(labels).select("node", "component")
            stepped = propagate(mid).localCheckpoint(eager=False)
            # the round's SINGLE job returns BOTH the convergence
            # signal and (r16) the node count — so ``with_count``
            # callers (the keep-verdict family's broadcast size gate)
            # never pay a separate count job over the labels
            stats = stepped.select(
                F.count("*").alias("n"),
                F.count_if(
                    F.col("component") < F.col("old_component")
                ).alias("changed"),
            ).first()
            labels = stepped.select("node", "component")
            release_local_checkpoint(prev_cp)
            prev_cp = stepped
            if stats["changed"] == 0:
                return (labels, stats["n"]) if with_count else labels
        if algorithm == "auto":
            # high-diameter graph: stop paying a barrier per 2 hops and
            # collapse it in O(log d) star rounds instead
            release_local_checkpoint(prev_cp)
            out, _ = star_components(edges, src=src, dst=dst, max_iter=max_iter)
            return (out, out.count()) if with_count else out
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    finally:
        # checkpoint blocks, not a cache entry — unpersist() would be a
        # no-op on them; nothing reads sym after the loop (the returned
        # labels are themselves checkpointed)
        release_local_checkpoint(sym)


def _driver_components(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, int] | None:
    """``auto``'s driver finish: ((node, component), node count) when
    the edge set fits the session's broadcast budget, else None.

    The cap is the budget :func:`with_keep_verdict` already gates on,
    ``autoBroadcastJoinThreshold // _VERDICT_ROW_BYTES`` edges (~164k at
    the 10 MB default). ONE job collects at most cap + 1 (src, dst) rows
    as Arrow, so the driver never holds more than that; union-find with
    the minimum as root then labels every node with the minimum id it
    reaches, exactly the min-label fixpoint. The labels come back as a
    JVM ``LocalRelation`` built from an Arrow table — a frame built from
    a Python list would run Python workers in every consumer. Over the
    cap, with broadcasting disabled, with mixed endpoint types (the SQL
    union's type coercion stays the distributed path's) or with a null
    endpoint, it returns None and the distributed loop runs as before;
    the collect is then the one extra job."""
    import pyarrow as pa

    spark = edges.sparkSession
    cap = _auto_broadcast_threshold_bytes(spark) // _VERDICT_ROW_BYTES
    if cap <= 0:
        return None
    pair = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if pair.schema[0].dataType != pair.schema[1].dataType:
        return None
    t = pair.limit(cap + 1).toArrow()
    if t.num_rows > cap or t["src"].null_count or t["dst"].null_count:
        return None
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(t["src"].to_pylist(), t["dst"].to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # the larger root joins the smaller: root = min id
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    typ = t.schema.field("src").type
    labels = pa.table({
        "node": pa.array(nodes, typ),
        "component": pa.array([find(n) for n in nodes], typ),
    })
    return spark.createDataFrame(labels), len(nodes)


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: each node u connects its STRICTLY LARGER neighbors
    to m = min({u} ∪ Γ(u)). Operates on the symmetrized neighborhood;
    output edges are oriented big->small and deduplicated. One
    parameterized-SQL round trip (r16 — same plan as the Column form,
    ~15 fewer py4j calls per round; see OPTIMIZATION_r16.md §py4j).

    r17 note: per-round exchange sharing (clustering this dedup by
    ``src`` so small-star's src-keyed stages reuse the exchange, plus a
    per-round checkpoint of this output) was IMPLEMENTED, MEASURED and
    REJECTED — on the 200k-edge chain forest it cut stages ~6% but
    raised shuffled bytes 11% deterministically (the src-only
    repartition loses map-side dedup of the raw join output, and the
    checkpoint's unknown stats forfeit early broadcasts); runtime was
    flat within host noise. Bytes are the scarcer resource at 100 TB
    (guide §2.3), so the r16 shape stands. Numbers in
    OPTIMIZATION_r17.md §star."""
    return e.sparkSession.sql(
        """WITH sym AS (SELECT src, dst FROM {e}
                        UNION ALL
                        SELECT dst AS src, src AS dst FROM {e2}),
                mins AS (SELECT src, min(dst) AS mn FROM sym GROUP BY src)
           SELECT DISTINCT s.dst AS src, least(s.src, m.mn) AS dst
           FROM sym s JOIN mins m ON s.src = m.src
           WHERE s.dst > s.src""",
        e=e, e2=e,
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient every edge big->small, then each node u
    connects its (all smaller) neighbors AND itself to
    m = min(Γ(u)). Output oriented big->small, deduplicated,
    self-loops dropped. One parameterized-SQL round trip (r16)."""
    return e.sparkSession.sql(
        """WITH oriented AS (SELECT greatest(src, dst) AS src,
                                    least(src, dst) AS dst
                             FROM {e} WHERE src <> dst),
                mins AS (SELECT src, min(dst) AS mn
                         FROM oriented GROUP BY src)
           SELECT DISTINCT src, dst FROM (
               SELECT o.dst AS src, m.mn AS dst
               FROM oriented o JOIN mins m ON o.src = m.src
               UNION ALL
               SELECT src, mn AS dst FROM mins)
           WHERE src <> dst""",
        e=e,
    )


def star_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> tuple[DataFrame, int]:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14
    Alternating algorithm): returns ((node, component), rounds_used).

    Each round rewrites the edge set (one large-star + one small-star,
    both pure shuffle joins) instead of propagating labels hop by hop,
    so a component of diameter d collapses onto its minimum in
    O(log² n) rounds worst case and ~log₂ d in practice (the paper's
    experiments and the long-chain test here) — the difference between
    ~6 rounds and 30+ on an entity-resolution chain, and the reason
    this is the scale path for high-diameter graphs. Component ids only ever decrease, and the
    fixpoint is the star graph {(v, min_C) : v ∈ C, v ≠ min_C}.

    One action per round: the round's edge set lands in a lazy
    ``localCheckpoint`` and the convergence signal is the multiset
    symmetric difference against the previous round's edges, counted
    in a single job (union with ±1 flags, group, filter sum ≠ 0) —
    that same job materializes the checkpoint. Raises RuntimeError if
    not converged in ``max_iter`` rounds (log-bounded, so hitting it
    means a bug, not a big graph)."""
    canonical = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("src"),
            F.least(F.col(src), F.col(dst)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # ``nodes`` has exactly one consumer (the final labels join) — no
    # checkpoint at all (r16): the caller's action computes it once
    # from ``edges``, which every registered caller hands over already
    # materialized (the pairs checkpoint). ``cur``'s init checkpoint
    # goes LAZY for the same reason as minlabel's: round 1's diff
    # count materializes it; no standalone setup action.
    nodes = edges.select(F.col(src).alias("node")).union(
        edges.select(F.col(dst).alias("node"))
    ).distinct()
    cur = canonical.localCheckpoint(eager=False)
    for rounds in range(1, max_iter + 1):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        # multiset symmetric difference in ONE parameterized-SQL job
        # (same union/±1-flag plan as before, built in one round trip)
        n_diff = cur.sparkSession.sql(
            """SELECT count(*) AS n FROM (
                   SELECT src, dst, sum(side) AS d FROM (
                       SELECT src, dst, 1 AS side FROM {nxt}
                       UNION ALL
                       SELECT src, dst, -1 AS side FROM {cur})
                   GROUP BY src, dst)
               WHERE d <> 0""",
            nxt=nxt, cur=cur,
        ).first()["n"]
        # the diff job read cur AND materialized nxt's checkpoint, so
        # cur's blocks are dead from here — free them now instead of
        # waiting for the ContextCleaner's next periodic JVM GC
        release_local_checkpoint(cur)
        cur = nxt
        if n_diff == 0:
            star = cur.groupBy("src").agg(F.min("dst").alias("component"))
            labels = nodes.join(
                star, nodes["node"] == star["src"], "left"
            ).select(
                "node",
                F.coalesce(F.col("component"), F.col("node")).alias("component"),
            )
            return labels, rounds
    raise RuntimeError(
        f"star_components did not converge in {max_iter} rounds"
    )


def _with_cluster_sizes(comp: DataFrame) -> DataFrame:
    """(node, component) -> (doc_id, component, cluster_size): the
    shared size fan-back of both cluster queries, as one parameterized
    SQL statement (r16 — same groupBy+join plan, one py4j round trip
    instead of ~12; see OPTIMIZATION_r16.md §py4j)."""
    return comp.sparkSession.sql(
        """SELECT c.node AS doc_id, c.component, s.cluster_size
           FROM {c} c
           JOIN (SELECT component, count(*) AS cluster_size
                 FROM {c2} GROUP BY component) s
             ON c.component = s.component""",
        c=comp, c2=comp,
    )


def cc_walk_ctes(pairs: str) -> str:
    """The DuckDB twin of :func:`connected_components` for an oracle
    (under ``WITH RECURSIVE``): ``edges`` — both directions of the
    ``pairs`` relation's (doc_a, doc_b) — its ``nodes``, and the
    recursive min-label ``walk(node, lbl)``. Each oracle's ``comp``
    takes ``MIN(lbl)`` per node."""
    return f"""edges AS (SELECT doc_a AS e_src, doc_b AS e_dst FROM {pairs}
          UNION ALL
          SELECT doc_b, doc_a FROM {pairs}),
nodes AS (SELECT DISTINCT e_src AS node FROM edges),
walk(node, lbl) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT e.e_dst, w.lbl FROM walk w JOIN edges e ON e.e_src = w.node
)"""


_CLUSTER_ORACLE = f"""
WITH RECURSIVE {NGRAM_PAIR_CTES},
{cc_walk_ctes("pairs")},
comp AS (SELECT node AS doc_id, MIN(lbl) AS component FROM walk GROUP BY node)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(c.component AS BIGINT) AS component,
       CAST(s.csize AS BIGINT) AS cluster_size
FROM comp c
JOIN (SELECT component, COUNT(*) AS csize FROM comp GROUP BY component) s
  ON c.component = s.component
"""


@register(
    "dup_clusters", oracle=_CLUSTER_ORACLE, survey_ops="§7-dedup,J1,A2", tier=0
)
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over the n-gram-Jaccard near-dup graph:
    (doc_id, component, cluster_size) for every doc in at least one
    dup pair; component = min doc_id in the cluster (the canonical
    keeper). Edges come from ``dedup_ngram_jaccard`` (same threshold,
    same df-capped shingle semantics); the oracle recomputes the same
    pairs via the shared CTE chain and closes them with a recursive
    min-label walk — transitivity is checked end-to-end, not assumed.
    """
    from stream_processing_test_spark.llm.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return _with_cluster_sizes(comp)


@register(
    "dup_clusters_star",
    oracle=_CLUSTER_ORACLE,
    survey_ops="§7-dedup,J1,A2",
    tier=2,
)
def dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dup_clusters`` computed through the large-star/small-star
    path (``star_components``) instead of min-label propagation — same
    edges, same oracle, so the driver's correctness gate pins the star
    algorithm end-to-end on real near-dup data, not just on the crafted
    chain graphs of the unit tests."""
    from stream_processing_test_spark.llm.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    comp = connected_components(
        pairs, src="doc_a", dst="doc_b", algorithm="star"
    )
    return _with_cluster_sizes(comp)


_KEEP_ORACLE = f"""
WITH RECURSIVE {NGRAM_PAIR_CTES},
{cc_walk_ctes("pairs")},
comp AS (SELECT node, MIN(lbl) AS component FROM walk GROUP BY node)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component,
       COALESCE(c.component, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


@register(
    "dedup_keep_canonical",
    oracle=_KEEP_ORACLE,
    survey_ops="§7-dedup,J1,⊘anti",
    tier=0,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-level dedup verdict: every document with its duplicate
    cluster and whether it survives (``keep`` = it IS the cluster's
    canonical min-id member, or it is in no dup pair at all).

    This is the op a pipeline actually materializes — ``WHERE keep``
    is the deduplicated corpus; pair/cluster queries are its
    evidence. One left join of the corpus against the clustered-node
    set, broadcast only when the measured node count fits the session
    broadcast budget (see :func:`with_keep_verdict` — at web-scale dup
    rates the node set is corpus-order and must shuffle-join instead).
    """
    from stream_processing_test_spark.llm.dedup import dedup_ngram_jaccard
    from stream_processing_test_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    comp, n_nodes = connected_components(
        pairs, src="doc_a", dst="doc_b", with_count=True
    )
    return with_keep_verdict(docs, comp, n_nodes=n_nodes).select(
        "doc_id", "component", "keep"
    )


_VERDICT_ROW_BYTES = 64  # (node, component) UnsafeRow + HashedRelation overhead


def _auto_broadcast_threshold_bytes(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (<= 0 means broadcasting is disabled). Conf values arrive as plain
    byte counts or with a b/k/m/g/t suffix (``10MB``, ``10485760b``)."""
    import re

    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    m = re.fullmatch(r"(-?\d+)\s*([kmgt]?b?)", raw)
    if m is None:
        return 0  # unparseable -> treat as disabled, never force a hint
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}.get(
        m.group(2)[:1], 1
    )
    return int(m.group(1)) * mult


def with_keep_verdict(
    docs: DataFrame, comp: DataFrame, n_nodes: int
) -> DataFrame:
    """Append (component, keep) to a corpus frame via a left join
    against the clustered-node set — the map-side verdict shared by
    ``dedup_keep_canonical``, ``leakage_safe_split`` and the fused
    curation pipeline.

    The broadcast hint is size-GATED, never assumed: on real web-scale
    corpora near-dup dedup removes 30-50% of documents, so the
    clustered-node set is the SAME order as the corpus — a forced
    broadcast of it would OOM every executor. ``n_nodes`` is the
    clustered-node count ``connected_components(with_count=True)``
    already measured (the driver union-find's node count, or past its
    cap the last round's convergence job), so the gate costs no extra
    job; the hint is applied only when that size fits the
    session's own auto-broadcast byte budget
    (``spark.sql.autoBroadcastJoinThreshold`` — needed because the
    planner sees a LogicalRDD with unknown stats and would never
    broadcast on its own). Over budget — or with broadcasting disabled
    — the join is left to the planner/AQE as an ordinary shuffle join.
    Layout-asserted for all three callers in test_scale_layout
    (hint under default conf, shuffle join with the threshold off)."""
    thr = _auto_broadcast_threshold_bytes(docs.sparkSession)
    # one parameterized-SQL round trip (r16): same left join + coalesce
    # verdict, with the size-gated broadcast expressed as the SQL hint
    # (identical planner effect to F.broadcast on the build side)
    hint = (
        "/*+ BROADCAST(c) */ "
        if thr > 0 and n_nodes * _VERDICT_ROW_BYTES <= thr
        else ""
    )
    cols = ", ".join(f"d.`{c}`" for c in docs.columns)
    return docs.sparkSession.sql(
        f"""SELECT {hint}{cols},
                   coalesce(c.component, d.doc_id) AS component,
                   coalesce(c.component, d.doc_id) = d.doc_id AS keep
            FROM {{d}} d LEFT JOIN {{c}} c ON d.doc_id = c.node""",
        d=docs, c=comp,
    )


TRAIN_PCT = 90  # train share of the 0-99 hash gate

_SPLIT_ORACLE = f"""
WITH RECURSIVE {NGRAM_PAIR_CTES},
{cc_walk_ctes("pairs")},
comp AS (SELECT node AS doc_id, MIN(lbl) AS component FROM walk GROUP BY node),
alldocs AS (
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(component AS BIGINT) AS component,
       CASE WHEN {{gate}} % 100 < {TRAIN_PCT} THEN 'train' ELSE 'val' END
           AS split
FROM alldocs
"""


@register(
    "leakage_safe_split",
    # the phash twin (llm/hashing.py) — NOT hand-rolled SQL, so a
    # PHASH_HEX change updates engine and oracle in lockstep
    oracle=_SPLIT_ORACLE.format(
        gate=phash_sql("'split:' || CAST(component AS VARCHAR)")
    ),
    survey_ops="§7-dedup,J1,F10",
    tier=2,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split that cannot leak near-duplicates across sides:
    every document maps to its duplicate component (transitive closure
    of the n-gram-Jaccard pairs; singletons map to themselves), and the
    split gate hashes the COMPONENT id, not the doc id — so all members
    of a dup cluster land on the same side by construction. The gate is
    the repo's portable md5-derived hash (llm/hashing.py), so the
    DuckDB oracle replays the exact assignment, and re-running on a
    grown corpus keeps previous assignments stable (deterministic,
    seedless — same property as llm/sampling.py).

    Scale: one near-dup index build + component closure (shared
    machinery with ``dup_clusters``), then a map-side hash — the split
    itself adds no shuffle beyond the size-gated keep-verdict join.
    """
    from stream_processing_test_spark.llm.dedup import dedup_ngram_jaccard
    from stream_processing_test_spark.tables import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    comp, n_nodes = connected_components(
        pairs, src="doc_a", dst="doc_b", with_count=True
    )
    # with_keep_verdict owns the broadcast-left-join + singleton
    # coalesce rule — one definition shared with dedup_keep_canonical
    verdict = with_keep_verdict(docs, comp, n_nodes=n_nodes)
    gate = (
        phash(F.concat(F.lit("split:"), F.col("component").cast("string")))
        % 100
    )
    return verdict.select(
        "doc_id",
        "component",
        F.when(gate < TRAIN_PCT, F.lit("train"))
        .otherwise(F.lit("val"))
        .alias("split"),
    )
