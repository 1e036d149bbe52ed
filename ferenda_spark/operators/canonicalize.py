"""Canonicalization: owl:sameAs equivalence -> connected components ->
rewrite triples onto canonical subjects/objects.

The reference treats sameAs-linked subjects within one document graph
as a single resource cluster (relate_dependencies,
documentrepository.py:1957-1965, SURVEY.md T11); at corpus scale that
generalizes to connected components over the global owl:sameAs edge
set.  Implemented as the iterative **hash-min** label propagation the
north rule names:

* labels start as each vertex's own id;
* each round every vertex takes the min label over itself and its
  neighbors (symmetrized edges);
* converged when the global sum of labels stops decreasing (monotone,
  so one cheap agg per round instead of a change-count join);
* ``localCheckpoint`` every round cuts lineage so plans don't grow
  exponentially (SURVEY.md §4 item 1) — at cluster scale this would be
  ``checkpoint()`` to reliable storage.

Rounds needed = graph diameter; the corpus plants chains of length 4
(doc_id % 4 links to doc_id-1) so convergence takes 3 rounds — the
driver-side loop is O(diameter), each round 2 shuffles (join + groupBy).
A graph that has not converged within ``max_iter`` rounds raises
instead of returning split components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import vocab


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """edges(src:long, dst:long) -> (vertex:long, component:long) where
    component = min vertex id in the component."""
    # partition the loop inputs for the loop, not for the upstream
    # DAG: localCheckpoint preserves whatever partition count the
    # extraction ran at (often sized for a wide scan), and every
    # fixpoint round would re-read it; hash-partition sym on the join
    # key at the session's shuffle width instead (matches the join's
    # required distribution, so rounds shuffle only the label vector —
    # at real scale this width would be sized to the edge bytes)
    nparts = edges.sparkSession.sparkContext.defaultParallelism
    sym = (edges.select("src", "dst")
           .union(edges.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
           .where(F.col("src") != F.col("dst"))
           .distinct()
           .repartition(nparts, "dst")
           # materialize once: the loop re-reads sym every round and
           # must not re-run the upstream extraction DAG each time
           .localCheckpoint())
    labels = (sym.select(F.col("src").alias("vertex"))
              .union(sym.select(F.col("dst").alias("vertex")))
              .distinct()
              .repartition(nparts, "vertex")
              .withColumn("component", F.col("vertex"))
              .localCheckpoint())
    # decimal(38,0) sum: vertex ids may span the full 64-bit range
    # (hash-derived), where a long sum overflows under ANSI mode
    _dsum = F.sum(F.col("component").cast("decimal(38,0)"))
    prev_sum = labels.agg(_dsum).first()[0]
    for _ in range(max_iter):
        neighbor_min = (sym.join(labels,
                                 sym["dst"] == labels["vertex"], "inner")
                        .groupBy(sym["src"].alias("vertex"))
                        .agg(F.min("component").alias("component")))
        labels = (labels.unionByName(neighbor_min)
                  .groupBy("vertex")
                  .agg(F.min("component").alias("component"))
                  .localCheckpoint())
        cur_sum = labels.agg(_dsum).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError("connected_components: no fixpoint after %d "
                           "rounds" % max_iter)
    return labels


def connected_components_uris(edges: DataFrame,
                              max_iter: int = 25) -> DataFrame:
    """edges(src:string, dst:string) -> (uri, canonical_uri) for
    ARBITRARY string vertices: canonical = the (length, value)-minimal
    member of each component — numeric order for same-prefix
    numeric-suffix URIs, plain lexicographic otherwise.

    Vertex ids are derived MAP-SIDE by ``xxhash64(uri)`` — no
    dictionary build and no id-assignment joins against the edge
    table; the only shuffles before the fixpoint are the distinct
    vertex set (needed anyway for the member mapping) and its one
    verification aggregate.  A 64-bit collision would silently merge
    two components, so the distinct-hash count is checked against the
    vertex count first; on a collision the code falls back to the
    dictionary path (``monotonically_increasing_id`` + two joins) —
    deterministic either way.  At 10^12-vertex scale the birthday
    bound makes 64-bit collisions likely, so the fallback (or a
    128-bit id split into a struct key) is the expected path there;
    at any scale the result is identical because the representative
    is chosen AFTER convergence by a per-component min over the
    members' (length, value) sort keys, so the id scheme never leaks
    into the result."""
    verts = (edges.select(F.col("src").alias("uri"))
             .union(edges.select(F.col("dst").alias("uri")))
             .distinct()
             .withColumn("vid", F.xxhash64("uri"))
             .localCheckpoint())
    counts = verts.agg(F.count("*").alias("n"),
                       F.countDistinct("vid").alias("d")).first()
    if counts["n"] != counts["d"]:
        verts = (verts.drop("vid")
                 .withColumn("vid", F.monotonically_increasing_id())
                 .localCheckpoint())
        e_long = (edges
                  .join(verts.select(F.col("uri").alias("src"),
                                     F.col("vid").alias("src_id")),
                        "src")
                  .join(verts.select(F.col("uri").alias("dst"),
                                     F.col("vid").alias("dst_id")),
                        "dst")
                  .select(F.col("src_id").alias("src"),
                          F.col("dst_id").alias("dst")))
    else:
        e_long = edges.select(F.xxhash64("src").alias("src"),
                              F.xxhash64("dst").alias("dst"))
    comp = connected_components(e_long, max_iter)
    member = (comp.join(verts, comp["vertex"] == verts["vid"])
              .select("component", "uri"))
    canon = (member
             .groupBy("component")
             .agg(F.min(F.struct(F.length("uri").alias("l"),
                                 F.col("uri").alias("u"))).alias("m"))
             .select("component", F.col("m.u").alias("canonical_uri")))
    return member.join(canon, "component").select("uri", "canonical_uri")


def sameas_components(triples: DataFrame) -> DataFrame:
    """owl:sameAs triples -> (uri, canonical_uri) via the generic
    string-vertex connected components (no numeric-suffix assumption;
    for the T6 doc-URI scheme the (length, value) order reduces to
    numeric document order, so the canonical doc keeps being the
    lowest-numbered one)."""
    edges = (triples
             .where(F.col("pred") == vocab.OWL_SAMEAS)
             .select(F.col("subj").alias("src"),
                     F.col("obj").alias("dst")))
    return connected_components_uris(edges)


def rewrite_canonical(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical mapping (broadcast when
    small; falls back to shuffle joins on bigger mappings — AQE picks).
    Drops the now-degenerate sameAs self-loops."""
    m = mapping
    out = (triples
           .join(m.withColumnRenamed("uri", "subj")
                  .withColumnRenamed("canonical_uri", "subj_canon"),
                 "subj", "left")
           .join(m.withColumnRenamed("uri", "obj")
                  .withColumnRenamed("canonical_uri", "obj_canon"),
                 "obj", "left")
           .select(F.coalesce("subj_canon", "subj").alias("subj"),
                   "pred",
                   F.coalesce("obj_canon", "obj").alias("obj"),
                   "obj_datatype", "obj_lang", "context"))
    return out.where(~((F.col("pred") == vocab.OWL_SAMEAS)
                       & (F.col("subj") == F.col("obj"))))


def incremental_components(mapping: DataFrame,
                           new_edges: DataFrame,
                           max_iter: int = 25) -> DataFrame:
    """Merge a NEW batch of sameAs edges into an EXISTING canonical
    mapping without recomputing over corpus history — the ingest-time
    shape of canonicalization at 10^12 scale, where each crawl slice
    adds edges but the stored mapping already collapses everything
    seen so far.

    The stored mapping IS a star forest (member -> canonical edge per
    member), and a star forest preserves connectivity exactly; so
    union(star edges, batch edges) has the same components as
    union(all historical edges, batch edges), while its diameter is
    ~2 instead of the historical cluster diameter.  The hash-min
    fixpoint therefore converges in rounds proportional to the NEW
    batch's chain depth only — per-ingest cost follows the batch, not
    the corpus.  Representatives are re-elected by the same
    (length, value) member-min as the full run, so output is
    IDENTICAL to a from-scratch recompute over the union (pinned by
    tests and the driver oracle).

    mapping: (uri, canonical_uri); new_edges: (src, dst).  Returns
    the refreshed (uri, canonical_uri)."""
    star = mapping.select(F.col("uri").alias("src"),
                          F.col("canonical_uri").alias("dst"))
    edges = star.unionByName(new_edges.select("src", "dst"))
    return connected_components_uris(edges, max_iter)
