"""Entity linking & canonicalization (SURVEY.md §2.12).

Relational stages downstream of inference: name normalization, the
broadcast alias-dictionary join, the one near-duplicate chain (shingle
hashes → MinHash → LSH bands → capped candidate self-join → verify →
connected components) behind both the near-dup document keepers and the
cross-document entity-name clusters, canonical naming, triple dedup. All
built-in DataFrame ops — no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from glre_spark.session import fan_out

# ---------------------------------------------------------------------------
# Normalization (str_normalize §2.8)
# ---------------------------------------------------------------------------


def norm_name(col):
    """lower → strip punctuation to spaces → collapse whitespace → trim.
    Frozen alias-normalization contract shared with datagen.alias_rows."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}]+", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def alias_dict_df(spark) -> DataFrame:
    from glre_spark.datagen import alias_rows

    return spark.createDataFrame(
        alias_rows(),
        "alias_norm string, entity_key string, canonical_name string, type string",
    )


# ---------------------------------------------------------------------------
# Alias join (link_alias_broadcast)
# ---------------------------------------------------------------------------


def link_aliases(mentions: DataFrame, alias_df: DataFrame, name_col: str = "name") -> DataFrame:
    """Broadcast hash join mention names onto the alias dictionary.
    Unlinked names fall back to a deterministic surrogate key so every
    mention stays in the graph."""
    m = mentions.withColumn("alias_norm", norm_name(F.col(name_col)))
    joined = m.join(F.broadcast(alias_df), "alias_norm", "left")
    return joined.withColumn(
        "entity_key",
        F.coalesce(F.col("entity_key"), F.concat(F.lit("S"), F.md5("alias_norm"))),
    ).withColumn("canonical_name", F.coalesce(F.col("canonical_name"), F.col(name_col)))


# ---------------------------------------------------------------------------
# The near-duplicate chain (minhash_sig / lsh_band / join_self_block §2.3):
# shingle base hashes → MinHash → LSH band rows → capped candidate
# self-join → verify → connected components. Documents (near_dup_keepers
# and the kgops dedup ops) and entity names (cluster_names) compose the
# same steps; only the band count differs.
#
# One MinHash family: ONE md5 per shingle (28-bit base hash from the first
# 7 hex chars) + K integer permutations h_i = (A_i·h + B_i) mod P. Every
# step is exact int64 arithmetic both engines agree on (A·h + B < 2^59, no
# overflow under ANSI mode), so the DuckDB twins compute bit-identical
# signatures. P = 2^31-1 (Mersenne prime).
# ---------------------------------------------------------------------------

SHINGLE_K = 3
MINHASH_K = 8  # signature length
MINHASH_P = 2147483647
MINHASH_A = [1103515245, 1225577, 747796405, 2027382, 1664525, 22695477, 65793, 100005713]
MINHASH_B = [12345, 987654321, 69069, 8121, 1013904223, 1, 377003613, 55555]
DOC_BANDS = 2   # bands of r=4: high-precision blocking — r=2 floods the
                # candidate set on vocabulary-sharing corpora (measured 18.8 s
                # of self-join at 500 docs; quadratic at web scale)
NAME_BANDS = 4  # bands of r=2: short names share few shingles
MAX_LSH_BLOCK = 64  # block-size cap: one hot band block would otherwise go
                    # quadratic in the self-join (cartesian bomb at web
                    # scale); oversized blocks are dropped (SURVEY M4)
KEEPER_TAU = 0.8  # classic near-dup Jaccard threshold
KEEPER_SKETCH_K = 256  # bottom-k (KMV) sketch size for the scale-shaped verify
NAME_TAU = 0.85   # name-cluster Jaccard threshold
CC_MAX_ITER = 20  # connected-components round cap (pointer jumping
                  # converges in O(log diameter) rounds)


def shingle_set(c):
    """Distinct character SHINGLE_K-shingles via a higher-order function
    (str_shingle §2.8)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (SHINGLE_K - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(SHINGLE_K)),
        )
    )


def shingle_hashes(c):
    """Distinct shingles → 28-bit base hashes (one md5 per shingle)."""
    return F.transform(
        shingle_set(c),
        lambda x: F.conv(F.md5(x).substr(1, 7), 16, 10).cast("bigint"),
    )


def exact_shingles(c):
    """Distinct shingles as xxhash64 longs — the exact-verify set: ~2.5×
    less shuffle through the pair join than 3-char strings, identical set
    sizes (64 bits are injective on a trigram vocabulary whp). The 28-bit
    base hash is for signatures only; it would blur the verify."""
    return F.transform(shingle_set(c), lambda x: F.xxhash64(x))


def perm_hash(i: int):
    # NB: must return a ONE-arg lambda — F.transform interprets a two-arg
    # lambda as (element, index), which would silently shadow the seed.
    a, b = F.lit(MINHASH_A[i]).cast("bigint"), F.lit(MINHASH_B[i]).cast("bigint")
    return lambda h: F.pmod(a * h + b, F.lit(MINHASH_P).cast("bigint"))


def minhash(hs: DataFrame) -> DataFrame:
    """(doc_id, hs base hashes) → (doc_id, mh0 … mh{K-1})."""
    return hs.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("hs"), perm_hash(i))).alias(f"mh{i}")
            for i in range(MINHASH_K)
        ],
    )


def band_rows(sig: DataFrame, bands: int) -> DataFrame:
    """Signature → one (doc_id, band_id, band_hash) row per LSH band of
    r = K/bands rows; band_hash = md5 of the band's rows joined by '|'."""
    r = MINHASH_K // bands
    hashes = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)]))
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id", F.posexplode(hashes).alias("band_id", "band_hash")
    ).select("doc_id", F.col("band_id").cast("bigint"), "band_hash")


def capped_blocks(bands: DataFrame, max_block: int = MAX_LSH_BLOCK) -> DataFrame:
    """Band rows whose (band_id, band_hash) block holds at most
    ``max_block`` docs; larger blocks are dropped."""
    sizes = bands.groupBy("band_id", "band_hash").agg(F.count("*").alias("bn"))
    return bands.join(
        F.broadcast(
            sizes.filter(F.col("bn") <= max_block).select("band_id", "band_hash")
        ),
        ["band_id", "band_hash"],
    )


def candidates(bands: DataFrame, max_block: int = MAX_LSH_BLOCK) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a capped band block."""
    blocks = capped_blocks(bands, max_block)
    a = blocks.select(F.col("doc_id").alias("id_a"), "band_id", "band_hash")
    b = blocks.select(F.col("doc_id").alias("id_b"), "band_id", "band_hash")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def with_sets(pairs: DataFrame, sets: DataFrame) -> DataFrame:
    """Attach each side's set from sets(doc_id, sh) as sh_a / sh_b: the
    verify runs on candidate PAIRS, never on blocks."""
    return pairs.join(
        sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(
        sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
    )


def jaccard():
    """Exact Jaccard of the sh_a / sh_b sets ``with_sets`` joins on."""
    inter, union = F.array_intersect("sh_a", "sh_b"), F.array_union("sh_a", "sh_b")
    return F.size(inter).cast("double") / F.size(union)


# ---------------------------------------------------------------------------
# Connected components (cc_label_prop §2.12) — alternating min-label
# propagation with lineage truncation each iteration.
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(id_a, id_b) → (id, component) with component = min id reachable.

    Min-label propagation PLUS a pointer-jumping step per round (component
    ← label(component)), so convergence is O(log diameter) — chains across
    overlapping LSH blocks converge in a handful of rounds even when far
    longer than CC_MAX_ITER. Driver-side fixpoint loop; localCheckpoint
    truncates lineage per iteration (SURVEY.md §4.3).

    Convergence probe: min-propagation is monotone per node, so a
    fixpoint exists; we stop when the label assignment stops changing,
    detected as an unchanged sum of xxhash64(id, component) — works for
    ANY id type (the keeper path uses raw url strings as ids since r6;
    the old sum-of-labels probe cast components to decimal and threw
    under ANSI on strings). A pre-fixpoint false stop needs the
    per-round hash sums to collide — 2^-64-ish per round, negligible.
    Summed as decimal(38,0): a bigint sum of 64-bit hashes could
    overflow under ANSI; decimal38 cannot at any realistic node count."""
    import warnings

    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    sym = sym.localCheckpoint(eager=True)  # compute candidate edges once
    nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("component", F.col("id")).localCheckpoint(eager=True)
    prev_sum = None
    converged = False
    for _ in range(CC_MAX_ITER):
        # candidate label for dst = min over neighbors' labels (+ own)
        prop = (
            sym.join(labels, sym.src == labels.id)
            .select(F.col("dst").alias("id"), F.col("component"))
            .unionByName(labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: component ← label(component). label(x) ≤ x always,
        # and every component value is itself a node id, so the lookup hits.
        lut = prop.select(
            F.col("id").alias("_cid"), F.col("component").alias("_cnew")
        )
        labels = (
            prop.join(lut, prop.component == lut._cid)
            .select("id", F.col("_cnew").alias("component"))
            .localCheckpoint(eager=True)  # truncate lineage, one execution
        )
        s = labels.agg(
            F.sum(F.xxhash64("id", "component").cast("decimal(38,0)"))
        ).collect()[0][0]
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    if not converged:
        warnings.warn(
            f"connected_components: no fixpoint after {CC_MAX_ITER} rounds; "
            "components may be split — raise CC_MAX_ITER",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


# ---------------------------------------------------------------------------
# Near-duplicate documents: the keeper decision (dedup_keeper_table /
# dedup_keeper_sketch, build_triples(drop_near_dups=True)).
# ---------------------------------------------------------------------------


def near_dup_keepers(docs: DataFrame, sketch_k: int | None = None) -> DataFrame:
    """The dedup DECISION over an ARBITRARY (doc_id, text) DataFrame:
    MinHash → capped LSH blocks → Jaccard ≥ KEEPER_TAU verify → connected
    components → (doc_id, keeper, is_dup), min-id keeper per near-dup
    cluster. Zero Python stages; every join is bounded by the block cap,
    never all-pairs. This is the table a training-data pipeline joins
    against to drop duplicates, and the flagship pipeline composes it
    below its inference stage (pipeline.build_triples(drop_near_dups=True)).

    Byte-identical docs (the web's dominant duplication mode — mirrors)
    also get exact-content star candidates: grouped by md5(text) and
    paired to the group's min doc_id. An exact-dup group is an equivalence
    class, so the star edges suffice for CC, and the construction is
    LINEAR in group size — no cap needed. The banded path alone loses
    mirrors: on a template-heavy corpus the hot band blocks the cap drops
    contain exactly those pairs (measured r5: bands found 15% of planted
    byte-identical mirrors on a 25k-doc template corpus; bands + exact
    star find all of them). NOT keyed on the minhash signature: equal
    signatures do NOT imply near-duplicate on shingle-skewed corpora
    (measured: 24k template docs collapsed into 1.8k full-signature
    buckets at J far below KEEPER_TAU), and star-to-min inside a mixed
    bucket would pair mirrors with a non-duplicate min and lose them at
    verify.

    The default verify is exact Jaccard over ``exact_shingles``.
    ``sketch_k`` trades it for scale: the verify joins a bottom-k sketch
    (the k smallest base hashes — a KMV/bottom-k sketch) instead of the
    full shingle set, and estimates Jaccard with the standard KMV
    estimator |bottom_k(A∪B) ∩ A ∩ B| / min(k, |A∪B|), which degenerates
    to EXACT Jaccard whenever a doc's distinct-shingle count ≤ k. The
    full-set verify shuffles every candidate pair's complete shingle
    arrays — ~8 bytes × shingles/doc × 2 per pair, the measured bomb on
    long web pages (r5 dup-bench: 4 KB html docs → ~70 s keeper pass at
    25 k docs); the sketch caps that at 8·k bytes/side and is the variant
    a 100 TB pass would run.

    PRECONDITION: ``doc_id`` must be unique — a duplicate fans out the
    verify join and collapses the per-row keep/drop decision across the
    duplicate's rows (ADVICE r5), so it is enforced with one groupBy on
    the fixed-width id (map-side combine; the cheapest possible
    whole-input probe). It is an extra eager action: callers whose input
    DAG is expensive should localCheckpoint first (pipeline.build_triples
    does)."""
    docs = fan_out(docs.select("doc_id", "text"))
    dup = (
        docs.groupBy("doc_id").agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1).limit(3).collect()
    )
    if dup:
        ids = [r["doc_id"] for r in dup]
        raise ValueError(
            f"near_dup_keepers: doc_id not unique (e.g. {ids}); the "
            "keeper decision is per-document — dedup or re-key the "
            "input first"
        )
    # one shingle-hash pass feeds the signatures, the block-size count and
    # the sketches (the local analog of "write the signature table once,
    # then join")
    hs = docs.select(
        "doc_id", F.array_distinct(shingle_hashes(F.col("text"))).alias("hs")
    ).localCheckpoint(eager=True)
    ex = docs.select("doc_id", F.md5("text").alias("cx"))
    exmin = (
        ex.groupBy("cx")
        .agg(F.min("doc_id").alias("id_a"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    star = (
        ex.join(exmin, "cx")
        .filter(F.col("doc_id") != F.col("id_a"))
        .select("id_a", F.col("doc_id").alias("id_b"))
    )
    cand = (
        candidates(band_rows(minhash(hs), DOC_BANDS))
        .unionByName(star)
        .distinct()
    )
    if sketch_k:
        sets = hs.select("doc_id", F.slice(F.array_sort("hs"), 1, sketch_k).alias("sh"))
        union = F.array_union("sh_a", "sh_b")
        both = F.array_intersect("sh_a", "sh_b")
        union_k = F.slice(F.array_sort(union), 1, sketch_k)
        jac = F.size(F.array_intersect(both, union_k)).cast("double") / F.least(
            F.lit(sketch_k), F.size(union)
        )
    else:
        sets = docs.select("doc_id", exact_shingles(F.col("text")).alias("sh"))
        jac = jaccard()
    ver = with_sets(cand, sets).filter(jac >= KEEPER_TAU).select("id_a", "id_b")
    comps = connected_components(ver)
    ids = docs.select("doc_id")
    keeper = F.coalesce(F.col("component"), F.col("doc_id"))
    return ids.join(comps, ids.doc_id == comps.id, "left").select(
        "doc_id", keeper.alias("keeper"), (keeper != F.col("doc_id")).alias("is_dup")
    )


# ---------------------------------------------------------------------------
# Cross-document entity clustering (north_star: "MinHash-LSH blocking …
# merge cross-document entity clusters"): near-duplicate surface names →
# LSH candidate pairs → Jaccard verify → connected components → one
# canonical name per cluster.
# ---------------------------------------------------------------------------


def cluster_names(names: DataFrame) -> DataFrame:
    """(name, n_sources) → (name, cluster_name) mapping for near-duplicate
    names. Pure DataFrame ops: the near-duplicate chain with NAME_BANDS
    bands → Jaccard verify (≥ NAME_TAU) on the normalized names' shingle
    strings → connected components (by hashed name id) → ``canonicalize``
    (max summed n_sources, tie → lexicographic).

    Node ids are xxhash64(name): fully parallel (a dense_rank over a
    global no-partition window would funnel every distinct name through
    one task) and collision-safe at 64 bits for name-clustering scale."""
    w = names.groupBy("name").agg(F.sum("n_sources").alias("_w"))
    ided = w.withColumn("doc_id", F.xxhash64(F.col("name"))).withColumn(
        "_norm", norm_name(F.col("name"))
    )
    sig = minhash(ided.select("doc_id", shingle_hashes(F.col("_norm")).alias("hs")))
    sets = ided.select("doc_id", shingle_set(F.col("_norm")).alias("sh"))
    pairs = (
        with_sets(candidates(band_rows(sig, NAME_BANDS)), sets)
        .filter(jaccard() >= NAME_TAU)
        .select("id_a", "id_b")
    )
    comps = connected_components(pairs)  # only ids that appear in edges
    labeled = ided.join(comps, ided.doc_id == comps.id, "left").select(
        "name", "_w", F.coalesce(F.col("component"), F.col("doc_id")).alias("_comp"),
    )
    reps = canonicalize(labeled, "_comp", "name", "_w")
    return labeled.join(reps, "_comp").select("name", "cluster_name")


def apply_name_clusters(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the (name → cluster_name) mapping (broadcast)
    and re-dedup."""
    m_subj = mapping.select(
        F.col("name").alias("subj"), F.col("cluster_name").alias("_subj_c")
    )
    m_obj = mapping.select(
        F.col("name").alias("obj"), F.col("cluster_name").alias("_obj_c")
    )
    out = (
        triples.join(F.broadcast(m_subj), "subj", "left")
        .join(F.broadcast(m_obj), "obj", "left")
        .select(
            F.coalesce("_subj_c", "subj").alias("subj"),
            F.col("pred"),
            F.coalesce("_obj_c", "obj").alias("obj"),
            F.col("score"),
            F.col("url"),
            F.col("n_sources"),
        )
    )
    return dedup_triples(out)


# ---------------------------------------------------------------------------
# Canonical naming + triple dedup (§2.12)
# ---------------------------------------------------------------------------


def canonicalize(named: DataFrame, cluster_col: str, name_col: str, weight_col: str) -> DataFrame:
    """The one canonical pick: per cluster, the name with the largest
    summed ``weight_col``, tie → lexicographically smallest name
    (cluster_names passes its name weights; a literal-1 column makes it
    the most frequent name). → (cluster_col, cluster_name)."""
    sums = named.groupBy(cluster_col, name_col).agg(F.sum(weight_col).alias("_sw"))
    w = Window.partitionBy(cluster_col).orderBy(F.desc("_sw"), F.asc(name_col))
    return (
        sums.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(F.col(cluster_col), F.col(name_col).alias("cluster_name"))
    )


def dedup_triples(triples: DataFrame, extra_keys: list[str] | None = None) -> DataFrame:
    """Exact (subj, pred, obj) dedup keeping max score + a witness url.
    n_sources = number of contributing prediction rows: an upstream
    n_sources (pipeline.predictions_to_triples' linked stage rows, or an
    already-deduped table) is summed when present, so re-deduping a
    partially-deduped table is exact; without one each row counts once.
    ``extra_keys`` scopes the dedup (e.g. lineage bucket_group)."""
    n_sources = F.sum("n_sources") if "n_sources" in triples.columns else F.count("*")
    return triples.groupBy("subj", "pred", "obj", *(extra_keys or [])).agg(
        F.max("score").alias("score"),
        F.min("url").alias("url"),
        n_sources.cast("bigint").alias("n_sources"),
    )
