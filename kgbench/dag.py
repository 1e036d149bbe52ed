"""The KG-construction job, put together from the operator-level public
functions: pages -> parse -> triples -> entity links -> sameAs
canonicalization -> committed canonical triples.

Each stage is cut with ``localCheckpoint`` inside a tracer layer, so
the traced run can attribute jobs, shuffle bytes and plan metrics to
one layer call.  ``cold_build`` is one operation of ``build_web`` and
``sameas_deep``; ``ingest`` is one operation of ``incremental_ingest``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ferenda_spark import catalog, vocab
from ferenda_spark.operators.canonicalize import (
    incremental_components, rewrite_canonical, sameas_components)
from ferenda_spark.operators.extract import extract_pages
from ferenda_spark.operators.incremental import (
    fingerprinted, run_stage_atomic)
from ferenda_spark.operators.linking import (
    build_resources, entity_mention_triples)
from ferenda_spark.operators.triples import (
    TRIPLE_COLS, all_triples, with_doc_metadata)

KEYS = ["url", "input_fingerprint"]


def _ok():
    return F.col("error").isNull()


def _stage(tr, op, name, build, **after):
    """Run one layer: build the lazy frame and materialize it.  The
    tracer gets the executed frame for its plan metrics, plus the
    output row count and any ``after`` measures of the output."""
    with tr.layer(op, name) as rec:
        df = build()
        out = df.localCheckpoint()
        rec.plan(df)
        rec.after("rows_out", out.count)
        for key, fn in after.items():
            rec.after(key, lambda fn=fn: fn(out))
    return out


def _components(mapping) -> int:
    return mapping.select("canonical_uri").distinct().count()


def _commit(tr, op, spark, out_dir, canon, mapping, quarantine) -> int:
    """Write the canonical triples, the sameAs mapping and the quarantine
    list, then read the committed triples back; returns their count."""
    with tr.layer(op, "catalog.write"):
        catalog.write_triples(canon, out_dir)
        catalog.write_stage(mapping, out_dir, "mapping")
        catalog.write_stage(quarantine.select("url", "error"), out_dir,
                            "quarantine")
        return catalog.read_stage(spark, out_dir, "triples").count()


def cold_build(spark, tr, op, pages_path: str, out_dir: str) -> int:
    """Full build of an empty store; returns committed triples."""
    pages = spark.read.parquet(pages_path)
    parsed = _stage(tr, op, "extract", lambda: extract_pages(pages))
    docs = with_doc_metadata(parsed.where(_ok()))
    tri = _stage(tr, op, "triples", lambda: all_triples(docs))
    links = _stage(tr, op, "linking", lambda: entity_mention_triples(
        docs, build_resources(spark)))
    allt = tri.unionByName(links)
    mapping = _stage(tr, op, "canonicalize.cc",
                     lambda: sameas_components(allt),
                     components=_components)
    canon = _stage(tr, op, "canonicalize.rewrite",
                   lambda: rewrite_canonical(allt, mapping))
    return _commit(tr, op, spark, out_dir, canon, mapping,
                   parsed.where(~_ok()))


def _parse_t(todo):
    return (extract_pages(todo)
            .join(todo.select(*KEYS), "url"))


def _triples_t(todo):
    t = all_triples(with_doc_metadata(todo))
    lineage = todo.select(*KEYS)
    return t.join(lineage, t["context"] == lineage["url"])


def _current(table, inputs, source_col: str = "html"):
    """Rows of a snapshot stage table that belong to the current inputs
    (the table also holds rows of pages since re-crawled)."""
    return table.join(fingerprinted(inputs, source_col).select(*KEYS),
                      KEYS, "left_semi")


def _sameas_edges(triples):
    return (triples.where(F.col("pred") == vocab.OWL_SAMEAS)
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))


def build_base(spark, pages_path: str, store: str) -> None:
    """Set-up for ``incremental_ingest``: commit the base pages through
    both snapshot stages, then store their sameAs mapping and their
    canonical triples."""
    pages = spark.read.parquet(pages_path)
    parsed, _, _ = run_stage_atomic(pages, store, "parse", _parse_t)
    ok = parsed.where(_ok()).drop("input_fingerprint")
    tri, _, _ = run_stage_atomic(ok, store, "triples", _triples_t,
                                 source_col="text")
    allt = tri.select(*TRIPLE_COLS).unionByName(entity_mention_triples(
        with_doc_metadata(ok), build_resources(spark)))
    mapping = sameas_components(allt).localCheckpoint()
    catalog.write_stage(mapping, store, "mapping")
    catalog.write_triples(rewrite_canonical(allt, mapping), store)


def ingest(spark, tr, op, slice_path: str, store: str,
           out_dir: str) -> int:
    """Ingest one recrawl slice into a committed base store: both stages
    only process the pages whose fingerprint is new, the slice's new
    sameAs edges are merged into the stored mapping, and the current
    KG is rewritten and committed.  Returns committed triples."""
    pages = spark.read.parquet(slice_path)
    with tr.layer(op, "incremental.parse_stage"):
        parsed_all, _, _ = run_stage_atomic(
            pages, store, "parse", tr.capture(op, "extract", _parse_t))
        current = _current(parsed_all, pages).localCheckpoint()
    ok = current.where(_ok()).drop("input_fingerprint")
    with tr.layer(op, "incremental.triples_stage") as rec:
        tri_all, ttab, snap = run_stage_atomic(
            ok, store, "triples", tr.capture(op, "triples", _triples_t),
            source_col="text")
        tri = _current(tri_all, ok, "text").select(*TRIPLE_COLS)
        delta = ttab.incremental(spark, snap["parent_id"],
                                 snap["snapshot_id"])
        rec.after("rows_out", delta.count)
    links = _stage(tr, op, "linking", lambda: entity_mention_triples(
        with_doc_metadata(ok), build_resources(spark)))
    stored = catalog.read_stage(spark, store, "mapping")
    mapping = _stage(tr, op, "incremental.merge_cc",
                     lambda: incremental_components(stored,
                                                    _sameas_edges(delta)),
                     components=_components)
    allt = tri.unionByName(links)
    canon = _stage(tr, op, "canonicalize.rewrite",
                   lambda: rewrite_canonical(allt, mapping))
    return _commit(tr, op, spark, out_dir, canon, mapping,
                   current.where(~_ok()))
