"""Near-duplicate cluster formation — connected components over the
verified near-dup edges.

The dedup endgame a training-data pipeline actually needs: verified PAIRS
(operators/dedup.dedup_ngram_jaccard) must become disjoint CLUSTERS so one
representative per cluster survives. Connected components is inherently
iterative (no single SQL query; ``dedup_clusters`` is oracle-checked
through a recursive CTE).

:func:`connected_components` canonicalizes and materializes the edge set
once, then picks the solver by edge count:

- at most ``LOCAL_EDGE_CUTOFF`` edges: a driver-side union-find, one
  collect instead of 10+ shuffle rounds. Near-dup VERIFIED edges are a
  tiny fraction of the corpus (each doc pairs with few others), so after
  the distributed candidate generation + exact verification the component
  solve usually fits one machine.
- more: alternating large-star / small-star (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC 2014). Converges in O(log n)
  rounds independent of graph diameter, which is the property that matters
  at 100 TB: a min-label propagation needs diameter-many shuffles (a
  10⁶-long chain of near-dup docs → 10⁶ rounds), large/small-star needs
  ~20. Each round is two shuffles (neighborhood min + star rewrite) with
  ``localCheckpoint`` lineage truncation — the standard Spark
  iterative-algorithm hygiene.

:func:`connected_components_propagation` is the plain min-label
propagation (rounds ∝ diameter, run to its fixpoint), kept as the
independent reference implementation the pytest equivalence check runs
against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructField, StructType

from ..registry import register
from ..session import scoped_shuffle_partitions

MAX_STAR_ROUNDS = 50
LOCAL_EDGE_CUTOFF = 100_000


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge list → canonical (u > v) distinct edges, no loops."""
    return (
        edges.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """(src, dst) undirected edges → (node, component = min reachable id).

    Alternating large-star/small-star (Kiveris et al. 2014):

    - large-star: every node links its LARGER neighbors to the minimum of
      its closed neighborhood — long chains contract toward minima from
      every node at once, halving path lengths (hence O(log n) rounds).
    - small-star: every node links its smaller-or-equal neighbors (and
      itself) to that minimum, collapsing local structure into stars.

    The fixpoint is a forest of stars rooted at each component's minimum
    id; convergence is detected by edge-set stability (count + order-
    insensitive hash — exact equality of canonical edge sets up to a
    2⁻⁶⁴ hash collision). Nodes without an edge don't appear, matching
    the pair-driven dedup semantics. Ids may be of any orderable type;
    the labels keep the edges' id type.

    Edge sets of at most ``LOCAL_EDGE_CUTOFF`` edges skip the iteration
    and solve on the driver (union-find) — one collect instead of
    O(log n) × 2 shuffles.
    """
    # Materialize the canonical edge set ONCE before the size probe: the
    # probe's collect executes the whole upstream pipeline (e.g. MinHash
    # banding + exact Jaccard), and without this the distributed path's
    # own localCheckpoint would execute it a second time from lineage.
    e = _canonical(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint(eager=True)
    head = e.limit(LOCAL_EDGE_CUTOFF + 1).collect()
    if len(head) <= LOCAL_EDGE_CUTOFF:
        return _union_find_local(
            edges.sparkSession, head, e.schema["u"].dataType
        )
    # The edge frontier is orders smaller than the corpus that produced
    # it, and each of the ~2·log(n) rounds pays 3 shuffles + a signature
    # collect: at the session default that cost is per-task scheduling,
    # not data. Each round materializes via localCheckpoint, so the
    # scope covers all execution.
    with scoped_shuffle_partitions(edges.sparkSession, 8):
        labels, _ = _star_rounds(e)
    return labels


def _union_find_local(
    spark: SparkSession, edge_rows, id_type: DataType
) -> DataFrame:
    """Driver-side union-find over a collected small edge list → the same
    (node, component=min reachable id) frame the distributed path emits,
    both columns of the edges' ``id_type``.

    The labels go back to the JVM as one Arrow table, which plans as a
    ``LocalRelation``; ``createDataFrame`` over a Python list would plan a
    pickled Python RDD, and every read of the labels would pay a
    Python-worker job to unpickle them."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        u, v = r["u"], r["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:  # union by min id so the root IS the component label
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    arrow_type = to_arrow_type(id_type)
    labels = pa.table(
        {
            "node": pa.array(list(parent), arrow_type),
            "component": pa.array([find(n) for n in parent], arrow_type),
        }
    )
    return spark.createDataFrame(
        labels,
        schema=StructType(
            [StructField("node", id_type), StructField("component", id_type)]
        ),
    )


def _star_rounds(e: DataFrame) -> tuple[DataFrame, int]:
    """The alternating-star fixpoint loop over canonical (u > v) edges →
    (labels, rounds-to-fixpoint), at most MAX_STAR_ROUNDS rounds."""
    rounds = 0
    prev_sig: tuple | None = None
    for _ in range(MAX_STAR_ROUNDS):
        # --- large-star: operate on the symmetric neighbor view ---
        sym = e.select("u", "v").unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # output is already canonical: v > u >= m
        # r18 (guide §2.5, r17 verdict #4): LAZY checkpoints through the
        # round — the AQE stages still run at the checkpoint call (so
        # the scoped width applies) but the final-stage/count job folds
        # into the round's signature collect instead of one eager job
        # per materialization.
        e1 = (
            large.where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # --- small-star: neighbors are all <= u in canonical orientation ---
        mins_s = e1.groupBy("u").agg(F.min("v").alias("mv"))
        mins_s = mins_s.select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        small = (
            e1.join(mins_s, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins_s.select(F.col("u"), F.col("m").alias("v")))
        )
        e = _canonical(small).localCheckpoint(eager=False)
        rounds += 1
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # order-insensitive, overflow-free set signature (ANSI mode
            # raises on a plain sum of 64-bit hashes)
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # fixpoint edges are (child, root): emit children and roots
    labels = (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionAll(
            e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    return labels, rounds


def connected_components_propagation(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Plain min-label propagation (rounds ∝ graph diameter, looped until
    no label changes) — the simple independent implementation used to
    cross-check the star variant."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # materialize once: the edge list is re-read every iteration, and
        # without this the whole upstream pipeline (e.g. MinHash banding)
        # re-executes per round
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    while True:
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "node")
            .where(F.col("u.component") != F.col("l.component"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            break
    return labels


def _clusters_oracle() -> str:
    # Cluster the SAME verified pair set dedup_ngram_jaccard derives
    # (md5-MinHash candidates → exact Jaccard ≥ threshold — every step
    # engine-portable), then take the transitive closure with a recursive
    # CTE and label each node with the minimum reachable doc_id. The
    # closure is quadratic in component size — fine for an oracle over
    # near-dup clusters (small by construction), never the Spark plan.
    from .dedup import JACCARD_DUP_THRESHOLD, JACCARD_ORACLE_CTES

    return f"""
        WITH RECURSIVE {JACCARD_ORACLE_CTES},
        verified AS (
          SELECT doc_a, doc_b FROM scored
          WHERE jaccard >= {JACCARD_DUP_THRESHOLD}
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM verified
          UNION
          SELECT doc_b AS a, doc_a AS b FROM verified
        ),
        reach AS (
          SELECT a AS node, b AS r FROM edges
          UNION
          SELECT reach.node, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
        )
        SELECT node AS doc_id,
               least(node, min(r)) AS component,
               least(node, min(r)) = node AS is_representative
        FROM reach
        GROUP BY node
    """


@register(
    "dedup_clusters",
    oracle=_clusters_oracle(),
    doc="Near-dup clusters over the VERIFIED near-dup edges "
    "(dedup_ngram_jaccard's exact-Jaccard pairs): connected components "
    "over the canonical edge set, materialized once — a driver-side "
    "union-find when it holds at most 100k edges, "
    "alternating large-star/small-star rounds (O(log n) regardless of "
    "diameter, localCheckpoint per round) above that → one row per "
    "clustered doc with its cluster id (min reachable doc_id) and the "
    "elected representative. Oracle-checked end-to-end: DuckDB re-derives the "
    "identical edge set and computes the closure with a recursive CTE — "
    "the iterative-algorithm surface of the engine, with an exact "
    "cross-engine answer.",
    tags=("dedup", "cluster", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    comps = connected_components(pairs)
    return comps.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("node") == F.col("component")).alias("is_representative"),
    )
