"""Duplicate-cluster resolution: connected components over near-dup
pair edges (beyond the reference — SURVEY §2.D's LLM-pipeline surface).

Pair-emitting dedup (MinHash LSH, SimHash bands, Jaccard) gives edges;
an actual dedup pipeline needs *clusters* — every document labeled
with the canonical (min) id of its duplicate group, so one keeper per
group survives. Transitivity matters: A~B and B~C put A,C in one
group even when A~C was never emitted.

Algorithm: min-label propagation with path compression. Each node
starts labeled with its own id; every iteration each node takes the
min of its own and its neighbors' labels, then labels are compressed
one pointer-doubling step (label ← label's label) — the doubling
makes convergence O(log diameter) instead of O(diameter), the
DataFrame analogue of the star-contraction rounds in Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SoCC 2014). Converged
when no label changes; each iteration is two bounded shuffles
(edge⋈label + label⋈label), the driver loop only ever sees a scalar
convergence count, and the label table is ``localCheckpoint``ed each
iteration so Catalyst lineage stays flat no matter how many rounds a
100 TB adversarial graph needs.

The incremental family (:func:`incremental_components_min_id`,
:func:`apply_components_update`) contracts every endpoint of a new
edge batch to its persisted cluster rep, so its graph is sized by the
arrival batch, not the corpus. Such a graph is usually tiny (a few
edges per micro-batch), and the distributed fixpoint would spend two
Spark jobs per iteration on it; so it is collected in one bounded
action and finished on the driver by union-find with min-id roots —
the standard finish of large-star/small-star CC. Only a batch with
more than ``DRIVER_FINISH_MAX_EDGES`` contracted edges falls back to
:func:`connected_components_min_id`.
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

_log = logging.getLogger(__name__)

# Largest contracted edge set the incremental family finishes on the
# driver. Sized for driver memory, not speed: 10⁵ collected rows of six
# fields are a few tens of MB of Python objects. Past it the batch is
# large enough to amortize the distributed fixpoint's per-iteration
# round trips.
DRIVER_FINISH_MAX_EDGES = 100_000


def local_frame(
    spark: SparkSession, schema: StructType, columns: list[list]
) -> DataFrame:
    """A frame of driver-side column values, built from a
    ``pyarrow.Table``. Spark plans it as a local relation
    (``LocalTableScan``): no RDD, no pickling and no Python worker,
    whatever the session's Arrow confs say. A Python list handed to
    ``createDataFrame`` is instead a pickled RDD, and every action
    that reads it starts Python workers."""
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _refuse_all_pairs_edges(pairs: DataFrame, op: str) -> None:
    """A policy operator must never consume the O(n²) ground-truth
    edge path (guard_all_pairs' sf ceiling makes it REFUSE, not run,
    at production size — so a query wired this way is broken at scale
    by construction). Re-source the edges from a banded detector
    (minhash_lsh_pairs & co.); the all-pairs form exists only for
    oracle/recall verification. Checked at every clustering entry
    point — batch, incremental read, and maintenance fold. Two
    detection layers: the frame attribute (the frame itself) and
    column metadata stamped on id_a (survives select / filter /
    persist / cache.track / parquet round-trips — the idioms that
    would launder a plain attribute)."""
    tainted = any(
        f.metadata.get("oamap_all_pairs_edges") for f in pairs.schema.fields
    )
    if tainted or getattr(pairs, "_oamap_all_pairs_edges", False):
        raise ValueError(
            f"{op}: refusing all-pairs ground-truth edges as "
            "clustering input — use a banded scale path "
            "(e.g. minhash_lsh_pairs) instead"
        )


def connected_components_min_id(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Resolve pair edges into components: returns (node, cluster_id)
    for every node appearing in `pairs`, cluster_id = min node id
    reachable through the edge set (self included).

    Exact fixpoint, not an approximation: the loop stops only when an
    iteration changes zero labels (or max_iter, which raises — a
    silent cap would mislabel clusters). With pointer doubling the
    iteration count is O(log diameter), so 40 covers any diameter up
    to ~2⁴⁰."""
    _refuse_all_pairs_edges(pairs, "connected_components_min_id")
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # DESER level: PySpark's plain MEMORY_AND_DISK is the
        # *serialized* level, which taxes every iteration's re-read
        # with deserialization (the same trap VERDICT r7 found in the
        # track() migration — see cache.py)
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        # localCheckpoint truncates lineage: each iteration's plan
        # starts from materialized partitions, never the whole chain.
        # LAZY (r12): iteration 1's convergence count is the
        # materializing action, so the init costs no job of its own —
        # the same move the in-loop checkpoint made in r11 (one fewer
        # driver round-trip per CC invocation; the maintenance stream
        # pays this per micro-batch).
        .localCheckpoint(eager=False)
    )

    n_iter = 0
    for _ in range(max_iter):
        n_iter += 1
        neigh_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # carry the pre-step label through the plan so convergence is
        # a FILTER over the checkpointed result, not a join of two
        # label generations (r11, guide §2.4: the old new⋈old
        # changed-count join was a third shuffle join per iteration;
        # `prev` rides the existing projections for free and the
        # count scans cached partitions). A/B'd against folding the
        # own-label join into the aggregation via self-loop edges or
        # a labels-union — both measured SLOWER (the left join below
        # broadcasts the small aggregated side, while self-loops
        # re-evaluate the expensive pairs subtree twice more and the
        # union bloats the aggregation input), so this shape stays.
        stepped = (
            labels.join(neigh_min, labels.node == neigh_min.src, "left")
            .select(
                "node",
                F.col("label").alias("prev"),
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
        )
        # pointer doubling: label ← label's label. Labels are always
        # node ids of this graph, so the self-join always resolves;
        # the compression halves chain lengths → O(log diameter).
        lut = stepped.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        # lazy checkpoint: the convergence count right below is the
        # materializing action, so each iteration runs ONE job instead
        # of two (eager localCheckpoint spends a separate job, then the
        # count re-scans the fresh cache — r11, measured on the same
        # per-iteration latency budget as the prev-carry change above)
        new_labels = (
            stepped.join(lut, stepped.label == lut.pnode, "left")
            .select("node", "prev", F.coalesce("plabel", "label").alias("label"))
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("label") != F.col("prev")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected components did not converge in {max_iter} iterations"
        )

    # iteration count to the log: every fixpoint loop reports its
    # iterations (batch CC, and the incremental family's fallback for
    # contracted graphs too large to finish on the driver)
    _log.info("connected_components_min_id: converged in %d iterations", n_iter)
    edges.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def dedup_keepers(
    df: DataFrame, id_col: str, components: DataFrame
) -> DataFrame:
    """Apply cluster labels as a dedup policy: keep rows that are their
    cluster's canonical (min-id) member, plus all rows with no
    duplicate edges at all (anti-join against the component node set
    — nodes absent from `components` are singletons)."""
    keep_ids = components.where(F.col("node") == F.col("cluster_id")).select("node")
    in_graph = df.join(
        components.select("node"), df[id_col] == F.col("node"), "left_semi"
    )
    singletons = df.join(
        components.select("node"), df[id_col] == F.col("node"), "left_anti"
    )
    canonical = in_graph.join(keep_ids, df[id_col] == F.col("node"), "left_semi")
    return canonical.unionByName(singletons)


def incremental_components_min_id(
    pairs: DataFrame,
    assignment: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Incremental connected components: merge a batch of new edges
    into a PERSISTED cluster assignment without touching the corpus
    graph — the daily-ingest form of :func:`connected_components_min_id`
    (rep-graph contraction; the "large-star on the contracted graph"
    move of Kiveris et al. SoCC 2014, done once because the corpus
    side is already a fixpoint).

    Preconditions (both hold for any assignment this module produced):
    ``assignment`` (node, cluster_id) is a fixpoint of some corpus
    edge set E_c — every corpus component fully labeled with its min
    member id — and ``pairs`` contains every NEW edge, i.e. the full
    graph is exactly E_c ∪ pairs (true for banded dedup signals:
    signatures are per-document, so adding arrival docs adds only
    arrival-touching candidate pairs and never changes corpus×corpus
    candidacy).

    Then each endpoint contracts to its rep — its persisted
    cluster_id, or itself when absent from ``assignment`` (arrival
    docs, corpus singletons) — and one exact min-id closure over the
    CONTRACTED edges suffices: paths through corpus edges collapse
    into the rep, paths through new edges are present verbatim, and
    because every rep id is the min of its underlying cluster, the
    min over a merged rep component equals the min over all underlying
    nodes. Output: (node, cluster_id) for every node appearing in
    ``pairs``, where cluster_id is the min id reachable in the FULL
    graph — bit-identical to rerunning batch CC over E_c ∪ pairs and
    restricting to these nodes (pinned by tests).

    Scale shape: the assignment join is |pairs|-sized (arrival-batch,
    not corpus, cardinality). The closure runs on the driver by
    union-find when the contracted graph has at most
    ``DRIVER_FINISH_MAX_EDGES`` edges, and as the distributed fixpoint
    above that — at 100 TB the corpus graph is never re-shuffled. The
    call runs Spark actions eagerly (the bounded collect, or the
    fixpoint's convergence counts)."""
    labels, _ = _contracted_fixpoint(pairs, assignment, id_a, id_b)
    return labels.select("node", "cluster_id")


def _contracted_fixpoint(
    pairs: DataFrame, assignment: DataFrame, id_a: str, id_b: str
) -> tuple[DataFrame, DataFrame]:
    """The shared contraction step of the incremental family: returns
    ``(labels, comp_rep)``. ``labels`` is (node, cluster_id, __fresh)
    for every node of ``pairs``: its min-id label in the full graph,
    and whether it is absent from ``assignment``. ``comp_rep`` is the
    exact min-id closure over the CONTRACTED edge set (rep ids as
    nodes, rep = persisted cluster_id, or the node itself when absent
    from ``assignment``).

    The contracted edges are collected in ONE action, bounded at
    ``DRIVER_FINISH_MAX_EDGES + 1`` rows. Up to the bound they are
    finished on the driver and both results come back as Arrow-built
    local relations (:func:`_driver_finish`); past it
    :func:`connected_components_min_id` runs over them unchanged."""
    _refuse_all_pairs_edges(pairs, "incremental clustering")
    rep = assignment.select(
        F.col("node").alias("__n"), F.col("cluster_id").alias("__rep")
    )
    # one row per edge: each endpoint, its rep, and whether it is new
    # to the assignment (no rep row matched)
    ends = (
        pairs.join(rep, pairs[id_a] == F.col("__n"), "left")
        .select(
            F.col(id_a).alias("__a"),
            F.coalesce("__rep", id_a).alias("__ra"),
            F.col("__n").isNull().alias("__fa"),
            F.col(id_b),
        )
        .join(rep, F.col(id_b) == F.col("__n"), "left")
        .select(
            "__a",
            "__ra",
            "__fa",
            F.col(id_b).alias("__b"),
            F.coalesce("__rep", id_b).alias("__rb"),
            F.col("__n").isNull().alias("__fb"),
        )
    )
    rows = ends.limit(DRIVER_FINISH_MAX_EDGES + 1).collect()
    if len(rows) <= DRIVER_FINISH_MAX_EDGES:
        _log.info(
            "incremental clustering: driver finish over %d contracted edges",
            len(rows),
        )
        return _driver_finish(ends, rows)
    _log.info(
        "incremental clustering: more than %d contracted edges, "
        "distributed fixpoint",
        DRIVER_FINISH_MAX_EDGES,
    )
    comp_rep = connected_components_min_id(ends, "__ra", "__rb")
    nodes = (
        ends.select(
            F.col("__a").alias("node"),
            F.col("__ra").alias("__noderep"),
            F.col("__fa").alias("__fresh"),
        )
        .union(ends.select("__b", "__rb", "__fb"))
        .distinct()
    )
    labels = nodes.join(
        comp_rep, nodes["__noderep"] == comp_rep["node"], "left"
    ).select(
        nodes["node"],
        # every rep is an endpoint of a contracted edge, so the left
        # join always resolves; coalesce is belt-and-braces
        F.coalesce(comp_rep["cluster_id"], nodes["__noderep"]).alias(
            "cluster_id"
        ),
        "__fresh",
    )
    return labels, comp_rep


def _driver_finish(
    ends: DataFrame, rows: list[Row]
) -> tuple[DataFrame, DataFrame]:
    """:func:`_contracted_fixpoint`'s results from its collected edge
    rows: union-find with path halving, the smaller root always
    winning, so every root is its component's min id — the same
    labels the distributed fixpoint converges to. Both frames are
    Arrow-built local relations (:func:`local_frame`), so the relabel
    broadcast and the write that reads them start no Python worker.
    Column types come from ``ends``, i.e. from the input schemas."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r["__ra"]), find(r["__rb"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {}
    for r in rows:
        labels[r["__a"]] = (find(r["__ra"]), r["__fa"])
        labels[r["__b"]] = (find(r["__rb"]), r["__fb"])

    types = {f.name: f.dataType for f in ends.schema.fields}
    spark = ends.sparkSession
    reps, nodes = list(parent), list(labels)
    comp_rep = local_frame(
        spark,
        StructType(
            [
                StructField("node", types["__ra"]),
                StructField("cluster_id", types["__ra"]),
            ]
        ),
        [reps, [find(n) for n in reps]],
    )
    label_df = local_frame(
        spark,
        StructType(
            [
                StructField("node", types["__a"]),
                StructField("cluster_id", types["__ra"]),
                StructField("__fresh", types["__fa"]),
            ]
        ),
        [nodes, [labels[n][0] for n in nodes], [labels[n][1] for n in nodes]],
    )
    return label_df, comp_rep


def apply_components_update(
    assignment: DataFrame,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The MAINTENANCE half of the incremental-clustering loop: the
    NEXT corpus assignment after merging a batch of new edges — what a
    daily pipeline persists back so tomorrow's batch probes today's
    state (:func:`incremental_components_min_id` is the read side,
    answering only for the batch's own nodes; this writes the new
    fixpoint for EVERYONE).

    Two row sources, both exact under the same contraction lemma:
    old rows get their rep's merged label, or keep theirs when the
    rep is untouched (an |assignment|-sized join against the
    batch-bounded rep relabel map — broadcast, so map-side only at
    100 TB); nodes of ``pairs`` absent from the old assignment
    (arrivals, prior singletons) enter with their merged label. The
    merge itself is finished on the driver for a contracted graph of
    at most ``DRIVER_FINISH_MAX_EDGES`` edges, so both the relabel map
    and the new nodes are Arrow-built local relations that start no
    Python worker; larger batches fall back to the distributed
    fixpoint. The result is again a min-id fixpoint — bit-identical
    to batch CC over E_c ∪ pairs on the full node set on either path
    (pinned by tests, incl. idempotence: re-applying the same batch is
    a no-op)."""
    labels, comp_rep = _contracted_fixpoint(pairs, assignment, id_a, id_b)
    relabel = comp_rep.select(
        F.col("node").alias("__rep"), F.col("cluster_id").alias("__new")
    )
    old = assignment.join(
        F.broadcast(relabel),
        assignment["cluster_id"] == F.col("__rep"),
        "left",
    ).select(
        assignment["node"],
        F.coalesce("__new", assignment["cluster_id"]).alias("cluster_id"),
    )
    return old.unionByName(labels.where("__fresh").select("node", "cluster_id"))
