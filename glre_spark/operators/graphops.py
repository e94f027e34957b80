"""Graph analytics over the constructed knowledge graph (SURVEY.md §2.14).

The kg_construct tier doesn't stop at emitting triples — a real pipeline
then ANALYZES the graph it built: salience ranking (PageRank) to pick
canonical entities, degree statistics to find hubs/skew before the next
join, association strength (PMI) to threshold noisy co-occurrence edges,
bounded reachability for context expansion, and triangle counts as a
clustering-coefficient signal for entity-cluster quality.

Graph domain for the driver twins: the token co-occurrence digraph of the
``documents`` table — an edge (src → dst) per ADJACENT token pair, weight
= corpus-wide pair count. Both engines derive it with the same relational
recipe (split → adjacent pairs → groupBy), so every op here has a full
DuckDB twin. This is also the honest 100-TB shape: the token/mention
stream (which scales with the data) collapses to the aggregated edge
relation via ONE map-side-combining groupBy on a narrow (src, dst) key;
every analytic below runs on the AGGREGATED graph, whose size is bounded
by the entity vocabulary, not the corpus. On a real KG the same code runs
over (subj, obj, count) from the triples sink.

Determinism rules (SURVEY.md §3.3): PageRank is computed in FIXED-POINT
INTEGER arithmetic (scale 1e12, floor division at every step) so the
iteration is exact and order-independent in both engines — no float-sum
hazard; PMI takes one ln() per aggregated edge from an identically-shaped
double expression, rounded via fround.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from glre_spark.operators import fround, load, op
from glre_spark.session import fan_out

# Shared DuckDB front-end: documents → adjacent-pair edges with counts.
# DuckDB lists are 1-indexed; range(1, L) = 1..L-1, so ts[i] → ts[i+1]
# enumerates exactly the adjacent pairs. Spark mirrors with 1-based
# element_at over sequence(1, size-1). MATERIALIZED: DuckDB otherwise
# re-inlines the CTE into every consumer (measured on the minhash family).
_EDGES_CTE = """edges AS MATERIALIZED (
  SELECT src, dst, COUNT(*) AS weight FROM (
    SELECT ts[CAST(i AS INTEGER)] AS src, ts[CAST(i AS INTEGER) + 1] AS dst
    FROM (SELECT string_split(text, ' ') AS ts,
                 UNNEST(range(1, len(string_split(text, ' ')))) AS i
          FROM documents
          WHERE len(string_split(text, ' ')) >= 2)
  ) GROUP BY src, dst
)"""


def cooccur_edges(docs):
    """(src, dst, weight bigint) adjacent-token digraph of a ``text``
    column. The pair fan-out is per-row (no shuffle); the single groupBy
    on the narrow string pair is the only exchange, with map-side combine
    collapsing the token stream to vocab² rows before it moves. The
    guarded fan_out round-robins the raw ``text`` column before split(),
    so that exchange moves one string per doc, not a token array.

    Pair enumeration is an index explode + two codegen element_at
    lookups, not a transform() lambda building struct arrays: Catalyst
    evaluates higher-order-function lambdas interpreted per element,
    and the whole-stage-codegen form measured ~20% faster on the same
    output (sf1.0: 1.35 vs 1.69 s, bit-identical edges)."""
    d = (
        fan_out(docs.select("text"))
        .select(F.split(F.col("text"), " ").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    return (
        d.select(
            "toks", F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i")
        )
        .select(
            F.element_at("toks", F.col("i")).alias("src"),
            F.element_at("toks", F.col("i") + 1).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("weight"))
    )


@op(
    "kg_cooccur_edges",
    f"WITH {_EDGES_CTE} SELECT src, dst, weight FROM edges",
)
def kg_cooccur_edges(spark, sf_dir):
    return cooccur_edges(load(spark, sf_dir, "documents"))


@op(
    "kg_degree_stats",
    f"""WITH {_EDGES_CTE},
o AS (SELECT src, COUNT(*) AS out_deg, CAST(SUM(weight) AS BIGINT) AS w_out
      FROM edges GROUP BY src),
i AS (SELECT dst, COUNT(*) AS in_deg, CAST(SUM(weight) AS BIGINT) AS w_in
      FROM edges GROUP BY dst)
SELECT COALESCE(o.src, i.dst) AS entity,
       COALESCE(out_deg, 0) AS out_deg, COALESCE(in_deg, 0) AS in_deg,
       COALESCE(w_out, 0) AS w_out, COALESCE(w_in, 0) AS w_in
FROM o FULL JOIN i ON i.dst = o.src""",
)
def kg_degree_stats(spark, sf_dir):
    """Per-entity degree/weight profile — the hub/skew probe a pipeline
    runs BEFORE joining on entity keys (head entities → salted joins)."""
    e = cooccur_edges(load(spark, sf_dir, "documents"))
    o = e.groupBy(F.col("src").alias("o_key")).agg(
        F.count("*").alias("out_deg"), F.sum("weight").alias("w_out")
    )
    i = e.groupBy(F.col("dst").alias("i_key")).agg(
        F.count("*").alias("in_deg"), F.sum("weight").alias("w_in")
    )
    z = F.lit(0).cast("bigint")
    return o.join(i, F.col("o_key") == F.col("i_key"), "full").select(
        F.coalesce("o_key", "i_key").alias("entity"),
        F.coalesce("out_deg", z).alias("out_deg"),
        F.coalesce("in_deg", z).alias("in_deg"),
        F.coalesce("w_out", z).alias("w_out"),
        F.coalesce("w_in", z).alias("w_in"),
    )


_PR_SCALE = 1_000_000_000_000  # fixed-point 1e12: rank mass as integers
_PR_ITERS = 5


def _pr_iter_sql(k: int) -> str:
    """One unrolled PageRank round: r{k} from r{k-1}. All-integer floor
    arithmetic — (rank·85)//100 damped mass, split by weight//w_out."""
    return f"""r{k} AS (
  SELECT n.entity,
         CAST(c.base + COALESCE(
           SUM(((r.rank * 85) // 100) * e.weight // w.w_out), 0) AS BIGINT)
           AS rank
  FROM nodes n CROSS JOIN consts c
  LEFT JOIN edges e ON e.dst = n.entity
  LEFT JOIN r{k - 1} r ON r.entity = e.src
  LEFT JOIN wout w ON w.src = e.src
  GROUP BY n.entity, c.base)"""


@op(
    "kg_pagerank",
    f"""WITH {_EDGES_CTE},
nodes AS MATERIALIZED (SELECT src AS entity FROM edges
                       UNION SELECT dst FROM edges),
wout AS MATERIALIZED (SELECT src, CAST(SUM(weight) AS BIGINT) AS w_out
                      FROM edges GROUP BY src),
consts AS (SELECT CAST({_PR_SCALE} // NULLIF(COUNT(*), 0) AS BIGINT) AS r0,
                  CAST(({_PR_SCALE} // NULLIF(COUNT(*), 0)) * 15 // 100 AS BIGINT) AS base
           FROM nodes),
r0 AS (SELECT entity, r0 AS rank FROM nodes CROSS JOIN consts),
{",".join(_pr_iter_sql(k) for k in range(1, _PR_ITERS + 1))}
SELECT entity, rank FROM r{_PR_ITERS}""",
)
def kg_pagerank(spark, sf_dir):
    """Entity salience by {_PR_ITERS}-iteration PageRank (damping 0.85)
    over the co-occurrence digraph, in exact fixed-point integer
    arithmetic (scale 1e12, floor division) — deterministic across
    engines, partitionings, and summation orders, unlike float PageRank.
    Dangling mass is dropped, not redistributed (documented choice; both
    engines agree). Overflow bound (ADVICE r6): the contribution term
    multiplies a damped rank (≤ 0.85·1e12) by a raw edge weight before
    the w_out division, so an edge with weight beyond ~1e7 hitting a
    high-rank source would overflow int64 and fail the job identically
    in both ANSI engines (no silent wrong answer). That admits total
    corpus co-occurrence counts ~10^7 per ordered pair — raise the
    fixed-point scale down (or widen to DECIMAL in both twins) past it.
    The iteration runs on the AGGREGATED vocab-bounded
    graph — at 100 TB the stream→edges groupBy is the only corpus-sized
    stage; each round is then a join on the (small) edge relation, and a
    real deployment would checkpoint every few rounds to cut lineage
    (linking.py's CC loop does exactly that)."""
    e = cooccur_edges(load(spark, sf_dir, "documents")).localCheckpoint(
        eager=True  # 5 rounds re-read edges; don't re-derive from text
    )
    nodes = (
        e.select(F.col("src").alias("entity"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    wout = e.groupBy("src").agg(F.sum("weight").alias("w_out"))
    # loop-invariant: the per-edge (weight, w_out) pair never changes
    # across rounds — annotate the edge relation once and checkpoint,
    # instead of re-running the edges⋈wout join in all 5 iterations
    # (edge-sized output; the materialized "adjacency with out-degree"
    # table every real PageRank keeps). Pre-hash-partitioning nodes/e_w on
    # the join keys (Pregel-style) was also tried and measured wall-neutral
    # here: Catalyst broadcasts the node-sized loop relations anyway.
    e_w = (
        e.join(wout, "src")
        .select("src", "dst", "weight", "w_out")
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # driver-sized scalar (vocab count), like K centroids
    if n == 0:
        # degenerate corpus (no doc has 2+ tokens): empty ranks, matching
        # the oracle (whose NULLIF keeps the consts CTE from dividing by
        # zero; zero nodes join to zero rows either way)
        return nodes.select("entity", F.lit(0).cast("bigint").alias("rank"))
    r_init, base = _PR_SCALE // n, (_PR_SCALE // n) * 15 // 100
    rank = nodes.select("entity", F.lit(r_init).cast("bigint").alias("rank"))
    for _ in range(_PR_ITERS):
        contrib = (
            e_w.join(rank, rank.entity == F.col("src"))
            .select(
                F.col("dst").alias("entity"),
                F.expr("((rank * 85) div 100) * weight div w_out").alias("c"),
            )
            .groupBy("entity")
            .agg(F.sum("c").alias("s"))
        )
        rank = nodes.join(contrib, "entity", "left").select(
            "entity",
            (F.lit(base) + F.coalesce("s", F.lit(0))).cast("bigint").alias(
                "rank"
            ),
        )
    return rank


@op(
    "kg_edge_pmi",
    f"""WITH {_EDGES_CTE},
t AS (SELECT CAST(SUM(weight) AS BIGINT) AS tot FROM edges),
o AS (SELECT src, CAST(SUM(weight) AS BIGINT) AS w_out FROM edges GROUP BY src),
i AS (SELECT dst, CAST(SUM(weight) AS BIGINT) AS w_in FROM edges GROUP BY dst)
SELECT e.src, e.dst, e.weight,
       ROUND(ln((CAST(e.weight AS DOUBLE) * CAST(tot AS DOUBLE))
                / (CAST(w_out AS DOUBLE) * CAST(w_in AS DOUBLE))) + 1e-9, 4) + 0
         AS pmi
FROM edges e CROSS JOIN t
JOIN o ON o.src = e.src JOIN i ON i.dst = e.dst""",
)
def kg_edge_pmi(spark, sf_dir):
    """Pointwise mutual information per co-occurrence edge — the standard
    association score for thresholding noisy KG edges before linking.
    Everything up to the final ln() is exact integer counts; the double
    expression is written identically in both engines (one ln per
    AGGREGATED edge, then fround) so there is no float-sum order hazard."""
    e = cooccur_edges(load(spark, sf_dir, "documents"))
    tot = e.agg(F.sum("weight").alias("tot"))
    o = e.groupBy("src").agg(F.sum("weight").alias("w_out"))
    i = e.groupBy("dst").agg(F.sum("weight").alias("w_in"))
    ratio = (
        F.col("weight").cast("double") * F.col("tot").cast("double")
    ) / (F.col("w_out").cast("double") * F.col("w_in").cast("double"))
    return (
        e.crossJoin(tot)
        .join(o, "src")
        .join(i, "dst")
        .select("src", "dst", "weight", fround(F.log(ratio), 4).alias("pmi"))
    )


@op(
    "kg_2hop_reach",
    f"""WITH {_EDGES_CTE}
SELECT e1.src AS entity, COUNT(DISTINCT e2.dst) AS n_2hop
FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
WHERE e2.dst <> e1.src
GROUP BY e1.src""",
)
def kg_2hop_reach(spark, sf_dir):
    """Distinct entities reachable in exactly two hops (self excluded) —
    the bounded context-expansion primitive (GLRE expands entity
    neighborhoods; unbounded closure is a non-starter at scale). The
    join fans out by deg² of the AGGREGATED graph; on a web-scale KG
    this is where the degree cap from kg_degree_stats gets applied."""
    e = cooccur_edges(load(spark, sf_dir, "documents"))
    e1 = e.select(F.col("src").alias("entity"), F.col("dst").alias("mid"))
    e2 = e.select(F.col("src").alias("mid"), F.col("dst").alias("hop2"))
    return (
        e1.join(e2, "mid")
        .filter(F.col("hop2") != F.col("entity"))
        .groupBy("entity")
        .agg(F.count_distinct("hop2").alias("n_2hop"))
    )


@op(
    "kg_triangle_count",
    f"""WITH {_EDGES_CTE},
u AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
tri AS (SELECT e1.a, e1.b, e2.b AS c
        FROM u e1 JOIN u e2 ON e2.a = e1.b
        JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (SELECT a AS entity FROM tri UNION ALL
            SELECT b FROM tri UNION ALL SELECT c FROM tri),
nodes AS (SELECT a AS entity FROM u UNION SELECT b FROM u)
SELECT n.entity, COALESCE(t.n_triangles, 0) AS n_triangles
FROM nodes n LEFT JOIN (SELECT entity, COUNT(*) AS n_triangles
                        FROM corners GROUP BY entity) t
  ON t.entity = n.entity""",
)
def kg_triangle_count(spark, sf_dir):
    """Per-entity triangle participation in the UNDIRECTED co-occurrence
    graph (each triangle a<b<c found once via the oriented 3-join, then
    credited to all three corners; nodes in no triangle report 0).
    Triangle density ~ clustering coefficient: a quality signal on
    entity clusters after canonicalization. The oriented join (a<b<c)
    is the standard shuffle-bounded formulation — no double counting,
    candidate fan-out bounded by the smaller-endpoint orientation."""
    e = cooccur_edges(load(spark, sf_dir, "documents"))
    u = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)  # 3-way self-join; derive once
    )
    e2 = u.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = u.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = u.join(e2, "b").join(
        e3, (F.col("a2") == F.col("a")) & (F.col("c2") == F.col("c"))
    )
    corners = (
        tri.select(F.col("a").alias("entity"))
        .unionAll(tri.select(F.col("b")))
        .unionAll(tri.select(F.col("c")))
        .groupBy("entity")
        .agg(F.count("*").alias("n_triangles"))
    )
    nodes = u.select(F.col("a").alias("entity")).union(u.select("b")).distinct()
    return nodes.join(corners, "entity", "left").select(
        "entity",
        F.coalesce("n_triangles", F.lit(0).cast("bigint")).alias("n_triangles"),
    )


@op(
    "kg_neighbor_jaccard",
    f"""WITH {_EDGES_CTE},
u AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
adj AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM u UNION ALL SELECT b, a FROM u),
deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY node),
sh AS (
  SELECT a1.node AS entity_a, a2.node AS entity_b, COUNT(*) AS n_shared
  FROM adj a1 JOIN adj a2 ON a2.nbr = a1.nbr AND a1.node < a2.node
  GROUP BY a1.node, a2.node)
SELECT sh.entity_a, sh.entity_b, sh.n_shared,
       d1.deg AS deg_a, d2.deg AS deg_b,
       ROUND(CAST(sh.n_shared AS DOUBLE)
             / (d1.deg + d2.deg - sh.n_shared) + 1e-9, 4) + 0 AS jaccard
FROM sh
JOIN deg d1 ON d1.node = sh.entity_a
JOIN deg d2 ON d2.node = sh.entity_b""",
)
def kg_neighbor_jaccard(spark, sf_dir):
    """Structural entity similarity: Jaccard overlap of UNDIRECTED
    neighbor sets, for every entity pair sharing at least one neighbor
    (the entity-resolution signal that catches aliases co-occurring with
    the same context entities even when their surface forms never meet).
    Candidate pairs come from a wedge join THROUGH the shared neighbor —
    never an all-pairs product — so the fan-out is sum(deg(m)^2) over the
    AGGREGATED graph, and the hub-degree cap from kg_degree_stats is the
    documented escalation at web scale. Jaccard = shared / (deg_a +
    deg_b - shared) from exact integer counts; one fround per pair."""
    e = cooccur_edges(load(spark, sf_dir, "documents"))
    u = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds adj twice + the wedge self-join
    )
    adj = u.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        u.select(F.col("b"), F.col("a"))
    )
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))
    a1 = adj.select(F.col("node").alias("entity_a"), "nbr")
    a2 = adj.select(F.col("node").alias("entity_b"), "nbr")
    sh = (
        a1.join(a2, "nbr")
        .filter(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        sh.join(deg.withColumnsRenamed({"node": "entity_a", "deg": "deg_a"}), "entity_a")
        .join(deg.withColumnsRenamed({"node": "entity_b", "deg": "deg_b"}), "entity_b")
        .select(
            "entity_a",
            "entity_b",
            "n_shared",
            "deg_a",
            "deg_b",
            fround(
                F.col("n_shared")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


@op(
    "kg_degree_entropy",
    # Per-term ln quantized to integer micro-nats BEFORE the sum: the
    # per-edge double expression is identical in both engines (the
    # kg_edge_pmi convention), and rounding each term to a BIGINT means
    # the SUM is exact integer arithmetic — no float-summation-order
    # hazard no matter how many out-edges a hub has. The final entropy
    # is one deterministic double expression over integers.
    f"""WITH {_EDGES_CTE},
q AS (
  SELECT src,
         CAST(SUM(weight) AS BIGINT) AS w_total,
         CAST(COUNT(*) AS BIGINT) AS n_out,
         CAST(SUM(CAST(ROUND(1e6 * weight * ln(CAST(weight AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS sum_wlnw_micro
  FROM edges GROUP BY src)
SELECT src AS entity, w_total, n_out,
       ROUND(ln(CAST(w_total AS DOUBLE))
             - (CAST(sum_wlnw_micro AS DOUBLE) / 1e6) / CAST(w_total AS DOUBLE)
             + 1e-9, 4) + 0 AS entropy
FROM q""",
)
def kg_degree_entropy(spark, sf_dir):
    """Shannon entropy of each entity's out-edge weight distribution —
    the hub-quality signal: a high-degree node with LOW entropy is a
    template artifact (all weight on one neighbor), high entropy marks
    a genuine promiscuous hub that linking should degree-cap. One
    map-side-combining groupBy over the AGGREGATED graph; each edge
    contributes round(1e6·w·ln w) as an integer micro-nat term so the
    per-group sum is exact and order-independent, and the closing
    H = ln(W) − Σw·ln(w)/W is a single double expression over those
    integers (kg_edge_pmi's engine-stable ln convention)."""
    e = cooccur_edges(load(spark, sf_dir, "documents"))
    term = F.round(
        1e6 * F.col("weight") * F.log(F.col("weight").cast("double")), 0
    ).cast("bigint")
    q = e.groupBy("src").agg(
        F.sum("weight").cast("bigint").alias("w_total"),
        F.count("*").cast("bigint").alias("n_out"),
        F.sum(term).cast("bigint").alias("sum_wlnw_micro"),
    )
    entropy = (
        F.log(F.col("w_total").cast("double"))
        - (F.col("sum_wlnw_micro").cast("double") / 1e6)
        / F.col("w_total").cast("double")
    )
    return q.select(
        F.col("src").alias("entity"),
        "w_total",
        "n_out",
        fround(entropy, 4).alias("entropy"),
    )
