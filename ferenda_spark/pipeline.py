"""End-to-end DAG assembly: pages -> parsed docs -> triples ->
canonicalized triples (SURVEY.md §3.1 restated).

:func:`kg_dag` is the one definition of the KG-construction job;
``entry()``, ``bench.py``, ``scripts/submit_flagship.py`` and the tests
all run it.  :func:`parsed_docs` and :func:`corpus_triples` are the
query-side helpers the registered queries share."""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import catalog
from .corpus import load_pages
from .operators.canonicalize import rewrite_canonical, sameas_components
from .operators.extract import extract_pages
from .operators.incremental import fingerprinted, run_stage_atomic
from .operators.linking import build_resources, entity_mention_triples
from .operators.triples import TRIPLE_COLS, all_triples, with_doc_metadata

KEYS = ["url", "input_fingerprint"]


def parsed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_doc_metadata(extract_pages(load_pages(spark, sf_dir)))


def corpus_triples(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """doc + section + mention + entity-link triples."""
    resources = build_resources(spark)
    return all_triples(docs).unionByName(
        entity_mention_triples(docs, resources))


class KG(NamedTuple):
    """The stage frames of one :func:`kg_dag` run."""
    parsed: DataFrame     # extract_pages output, quarantined rows included
    triples: DataFrame    # doc/section/mention + entity-link triples
    mapping: DataFrame    # owl:sameAs (uri, canonical_uri)
    canonical: DataFrame  # triples rewritten through the mapping


def _ok(parsed: DataFrame) -> DataFrame:
    return parsed.where(F.col("error").isNull())


def _parse(todo: DataFrame) -> DataFrame:
    return extract_pages(todo).join(todo.select(*KEYS), "url")


def _triples(todo: DataFrame) -> DataFrame:
    # every triple's context is its page url: the per-row lineage back
    # to the exact input that produced it
    t = corpus_triples(todo.sparkSession, with_doc_metadata(todo))
    lineage = todo.select(*KEYS)
    return t.join(lineage, t["context"] == lineage["url"])


def _current(stage: DataFrame, inputs: DataFrame,
             source_col: str) -> DataFrame:
    """Rows of a snapshot stage table that belong to the current inputs
    (the table also keeps the rows of pages since re-crawled)."""
    return stage.join(fingerprinted(inputs, source_col).select(*KEYS),
                      KEYS, "left_semi")


def kg_dag(spark: SparkSession, pages: DataFrame,
           store: str | None = None) -> KG:
    """The KG-construction job: pages -> parse -> doc/section/mention
    and entity-link triples -> sameAs connected components ->
    canonical triples.

    Without ``store`` every stage is cut with ``localCheckpoint``, so
    the fan-out after parse never re-runs the Python parse.

    With ``store`` the parse and triples stages are resumable snapshot
    stages (:func:`operators.incremental.run_stage_atomic`, keyed on
    md5(html) and md5(text)): a rerun processes only pages whose input
    changed, and a kill loses at most the uncommitted stage.  Each
    stage's output is semi-joined back to the current inputs, so rows
    of re-crawled pages never reach canonicalization.  The mapping and
    the canonical triples are committed to the store's ``mapping`` and
    ``triples`` tables and returned as read back."""
    if store is None:
        parsed = extract_pages(pages).localCheckpoint()
        triples = corpus_triples(
            spark, with_doc_metadata(_ok(parsed))).localCheckpoint()
    else:
        parsed_all, _, _ = run_stage_atomic(pages, store, "parse", _parse)
        parsed = (_current(parsed_all, pages, "html")
                  .drop("input_fingerprint").localCheckpoint())
        ok = _ok(parsed)
        tri_all, _, _ = run_stage_atomic(ok, store, "triples", _triples,
                                         source_col="text")
        triples = _current(tri_all, ok, "text").select(*TRIPLE_COLS)
    mapping = sameas_components(triples).localCheckpoint()
    canonical = rewrite_canonical(triples, mapping)
    if store is None:
        return KG(parsed, triples, mapping, canonical.localCheckpoint())
    catalog.write_stage(mapping, store, "mapping")
    catalog.write_triples(canonical, store)
    return KG(parsed, triples, catalog.read_stage(spark, store, "mapping"),
              catalog.read_stage(spark, store, "triples")
              .select(*TRIPLE_COLS))
