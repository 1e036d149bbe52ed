"""Capstone integration: the full north-rule DAG through every layer
this engine ships — streaming-shaped ingest via atomic snapshot
stages, KG construction + sameAs canonicalization, RDFS entailment,
the SPARQL surface (SELECT/UPDATE) over the materialized table, and
the byte-stable N-Triples dump — one pipeline, consistency asserted
between layers."""

import os
import shutil
import tempfile
from collections import Counter

import pytest

from pyspark.sql import functions as F

from ferenda_spark.session import get_spark


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="e2e-tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="ferenda_e2e_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_full_dag_end_to_end(spark, tmpdir):
    from ferenda_spark.catalog import dump_nt
    from ferenda_spark.corpus import load_pages
    from ferenda_spark.pipeline import kg_dag
    from ferenda_spark.snaptable import SnapshotTable
    from ferenda_spark.sparql import (sparql_select,
                                      sparql_update_table)

    pages = load_pages(spark, SF).localCheckpoint()
    n_pages = pages.count()

    # 1. KG construction + canonicalization through the atomic snapshot
    # stages (resumable ingest)
    kg_dag(spark, pages, store=tmpdir)
    ptab = SnapshotTable(os.path.join(tmpdir, "parse_snap"))
    assert ptab.history()[0]["added_rows"] == n_pages
    # 2. rerun = no rework, no new snapshot
    triples = kg_dag(spark, pages, store=tmpdir).canonical
    assert len(ptab.history()) == 1

    # 3. materialize as a snapshot table
    tab = SnapshotTable(os.path.join(tmpdir, "kg"))
    snap = tab.create(triples, stats_cols=("subj",))
    n_triples = snap["summary"]["total_rows"]
    assert n_triples > 0

    # 4. SPARQL over the materialized table matches the DataFrame
    g = tab.read(spark)
    got = sparql_select(g, """
        SELECT ?pub (COUNT(?d) AS ?n) WHERE {
          ?d dcterms:publisher ?pub .
        } GROUP BY ?pub ORDER BY ?pub""").collect()
    want = (g.where(F.col("pred")
                    == "http://purl.org/dc/terms/publisher")
            .groupBy(F.col("obj")).count().orderBy("obj").collect())
    assert [(r.pub, r.n) for r in got] == [(r.obj, r["count"])
                                           for r in want]

    # 5. SPARQL UPDATE commits a new snapshot; old state time-travels
    s2 = sparql_update_table(tab, spark, """
        PREFIX dcterms: <http://purl.org/dc/terms/>
        DELETE WHERE { ?d dcterms:subject ?s }""")
    n_subj = g.where(F.col("pred")
                     == "http://purl.org/dc/terms/subject").count()
    assert tab.read(spark).count() == n_triples - n_subj
    assert tab.read(spark,
                    snapshot_id=snap["snapshot_id"]).count() \
        == n_triples

    # 6. dump of the updated graph: line count equals the table, and
    # the dumped content is exactly the table's N-Triples
    # serialization (tuple-key range ordering at file boundaries is
    # the writer's contract; content equality is the test)
    from ferenda_spark.catalog import nt_lines
    out = os.path.join(tmpdir, "dump.nt")
    n_lines = dump_nt(tab.read(spark), out)
    assert n_lines == n_triples - n_subj
    dumped = sorted(r.value for r in spark.read.text(out).collect())
    expect = sorted(r.line for r in
                    nt_lines(tab.read(spark)).collect())
    assert dumped == expect


def test_kg_dag_store_matches_storeless(spark, tmpdir):
    """kg_dag with and without a store commits the same canonical-triple
    multiset, also after a recrawl removes one page's sameAs sentence:
    the store rerun reprocesses that page and its stale stage rows never
    reach canonicalization.  entry() keeps the flagship pivot over the
    pre-canonical triples of the same DAG."""
    import importlib.util
    from ferenda_spark.corpus import load_pages
    from ferenda_spark.operators.facets import faceted_data
    from ferenda_spark.pipeline import corpus_triples, kg_dag, parsed_docs

    def rows(df):
        return Counter(tuple(r) for r in df.collect())

    pages = load_pages(spark, SF).localCheckpoint()
    stored = rows(kg_dag(spark, pages, store=tmpdir).canonical)
    assert stored == rows(kg_dag(spark, pages).canonical)

    html = F.col("html").cast("string")
    victim = (pages.where(html.contains("Identical to Document"))
              .agg(F.min("url")).first()[0])
    recrawl = pages.withColumn("html", F.when(
        F.col("url") == victim,
        F.regexp_replace(html, r" Identical to Document \d+\.", "")
        .cast("binary")).otherwise(F.col("html"))).localCheckpoint()
    restored = rows(kg_dag(spark, recrawl, store=tmpdir).canonical)
    assert restored != stored
    assert restored == rows(kg_dag(spark, recrawl).canonical)

    # the flagship pivot: faceted_data over parse -> triples
    spec = importlib.util.spec_from_file_location("entry", os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert rows(mod.entry(spark)) == rows(
        faceted_data(corpus_triples(spark, parsed_docs(spark, SF))))
