"""Shared ANN-family corpus constants and the DuckDB text of the
nearest-neighbour top-k contract — a LEAF module (imports nothing from
the package) so both ``llm.similarity`` and ``llm.pq`` can read them at
module-init time regardless of which of the two is imported first.

Why this exists (r14): similarity's ``ann_index_append`` dispatch
oracle needs pq's helpers at REGISTRATION time (a decorator argument
evaluates during module exec), and pq's oracle builders need
similarity's CTE helpers the same way — a genuine two-way
registration-time dependency. Executors import whichever module the
pickled Arrow kernel lives in FIRST, so a top-level constant import
in either direction made worker start-up order-dependent (the sf0.1
bench caught pq-first workers dying on a partially initialized
module). Constants and pure-string SQL fragments live here; the
function-level needs stay lazy imports inside the oracle builders,
which run only after both modules' own names are defined.

The top-k contract every ANN oracle replays: vectors cast to double,
the query set ``vec_id < N_QUERIES``, cosine rounded to 4 decimals,
ranked by rounded cosine descending, then neighbor id ascending (the
cross-engine determinism rule), ``rk <= k``. Its Spark twins sit beside
``similarity.cosine``.
"""

TOP_K = 10
N_QUERIES = 5  # query set = vec_id < 5
EMBED_DIM = 64  # embeddings table vector width (FIXTURES.md §2)

# (vec_id, v) with v widened to double; callers wrap it in their CTE
# and may append a WHERE
VECTORS_SQL = """SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings"""


def query_cte(src: str) -> str:
    """The ``q(query_id, qv)`` CTE: the registered query set of the
    (vec_id, v) relation ``src``."""
    return (
        f"q AS (SELECT vec_id AS query_id, v AS qv FROM {src} "
        f"WHERE vec_id < {N_QUERIES})"
    )


def probed_cte(cents: str, probes: int | str, carry_qv: bool) -> str:
    """The ``probed`` routing CTE: each ``q`` row keeps its ``probes``
    most-similar centroids of ``cents`` (round-6 cosine DESC, list_id
    ASC) — the SQL twin of ``similarity.route_queries``."""
    qv, q_qv = (" qv,", " q.qv,") if carry_qv else ("", "")
    return f"""probed AS (
    SELECT query_id,{qv} list_id FROM (
        SELECT q.query_id,{q_qv} c.list_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY ROUND(list_cosine_similarity(q.qv, c.centroid), 6) DESC,
                            c.list_id ASC) AS pr
        FROM q CROSS JOIN {cents} c) WHERE pr <= {probes}
)"""


def probed_sims_cte(name: str) -> str:
    """Exact round-4 cosine of every ``probed`` query against the
    members of its lists in ``assign_final``, self-pairs excluded."""
    return f"""{name} AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos_sim
    FROM assign_final a JOIN probed p USING (list_id)
    WHERE a.vec_id <> p.query_id
)"""


def ranked_cte(name: str, src: str, part: str) -> str:
    """``src`` rows numbered per ``part`` under the contract's
    tie-break, as ``rk``."""
    return f"""{name} AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY {part} ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
    FROM {src}
)"""


def topk_select(ranked: str, id_col: str, k: int) -> str:
    """The contract's final projection: the ``k`` best rows per
    ``id_col`` of ``ranked``. Callers may append ``AND ...``."""
    return f"""SELECT CAST({id_col} AS BIGINT) AS {id_col},
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       cos_sim,
       CAST(rk AS BIGINT) AS rk
FROM {ranked} WHERE rk <= {k}"""
