"""The Spark-free verifier accepts a correct committed output and rejects
corrupted ones."""

import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ferenda_spark import vocab
from ferenda_spark.corpus import page_url
from ferenda_spark.operators.triples import TRIPLE_COLS
from kgbench import gen, verify


def _table(out_dir, name, cols, rows):
    os.makedirs(os.path.join(out_dir, name))
    pq.write_table(
        pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)},
                 schema=pa.schema([(c, pa.string()) for c in cols])),
        os.path.join(out_dir, name, "part-0.parquet"))


def _commit(out_dir, rows, mapping, quarantined):
    """Write an output the way the job lays it out on disk."""
    _table(os.path.join(out_dir, "triples"), "context_bucket=0",
           TRIPLE_COLS, rows)
    _table(out_dir, "mapping", ("uri", "canonical_uri"),
           sorted(mapping.items()))
    _table(out_dir, "quarantine", ("url", "error"),
           [(u, "FSMStateError") for u in quarantined])
    return str(out_dir)


@pytest.fixture(scope="module")
def case():
    specs = gen.sameas_deep(3, 400)
    return specs, verify.expected_rows(specs), verify.expect(specs)


def test_accepts_the_correct_output_in_any_order(case, tmp_path):
    specs, rows, exp = case
    shuffled = list(rows)
    random.Random(0).shuffle(shuffled)
    v = verify.check(_commit(tmp_path, shuffled, exp.mapping,
                             exp.quarantined), exp)
    assert v.ok, v.reason
    assert v.count == len(rows) and v.wrong_vertices == 0


def test_rejects_one_dropped_triple(case, tmp_path):
    _, rows, exp = case
    v = verify.check(_commit(tmp_path, rows[1:], exp.mapping,
                             exp.quarantined), exp)
    assert not v.ok and "count" in v.reason


def test_rejects_one_wrong_canonical_uri(case, tmp_path):
    _, rows, exp = case
    uri, canon = next((u, c) for u, c in exp.mapping.items() if u != c)
    i = next(i for i, r in enumerate(rows)
             if r[0] == canon and r[1] == vocab.FOAF_PAGE
             and r[2].endswith("/" + uri.rsplit("/", 1)[1]))
    bad = list(rows)
    bad[i] = (uri,) + rows[i][1:]
    v = verify.check(_commit(tmp_path, bad, exp.mapping, exp.quarantined),
                     exp)
    assert not v.ok and "checksum" in v.reason
    assert v.wrong_vertices == 0


def _split(exp):
    """The mapping with one non-canonical vertex split off on its own,
    and the triples a job rewriting through that mapping commits."""
    uri = next(u for u, c in exp.mapping.items() if u != c)
    split = dict(exp.mapping, **{uri: uri})
    return split, verify.canonicalize(exp.rows, split)


def test_rejects_a_split_component_in_the_mapping(case, tmp_path):
    _, _, exp = case
    split, rows = _split(exp)
    v = verify.check(_commit(tmp_path, rows, split, exp.quarantined), exp)
    assert not v.ok and v.wrong_vertices == 1
    # the rest of the job was right, and the verdict says so
    assert v.triples_ok and "count" not in v.reason \
        and "checksum" not in v.reason


def test_still_checks_the_triples_when_the_mapping_is_wrong(case,
                                                             tmp_path):
    _, _, exp = case
    split, rows = _split(exp)
    v = verify.check(_commit(tmp_path, rows[1:], split, exp.quarantined),
                     exp)
    assert not v.triples_ok and "count" in v.reason


def test_rejects_a_missed_quarantine(case, tmp_path):
    _, rows, exp = case
    missing = sorted(exp.quarantined)[1:]
    v = verify.check(_commit(tmp_path, rows, exp.mapping, missing), exp)
    assert not v.ok and "quarantined" in v.reason


def test_quarantine_set_is_the_planted_malformed_urls(case):
    specs, _, exp = case
    assert exp.quarantined == {page_url(s.doc_id, s.source)
                               for s in specs if s.malformed}
    assert len(exp.quarantined) == 4


def test_union_find_matches_brute_force_components():
    rng = random.Random(11)
    verts = ["https://example.org/res/doc/%d" % i for i in range(60)]
    edges = [tuple(rng.sample(verts, 2)) for _ in range(45)]
    got = verify.canonical_map(edges)
    # brute force: grow each vertex's component to a fixed point
    adj = {v: {v} for e in edges for v in e}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    for v in adj:
        comp, frontier = {v}, {v}
        while frontier:
            frontier = set(itertools.chain.from_iterable(
                adj[x] for x in frontier)) - comp
            comp |= frontier
        assert got[v] == min(comp, key=lambda u: (len(u), u))


def test_checksum_is_order_independent_and_sensitive():
    rows = [("a", "b", "c", None, None, "x"), ("d", "e", "f", None, "en", "y")]
    assert verify.checksum(rows) == verify.checksum(rows[::-1])
    assert verify.checksum(rows) != verify.checksum(
        [rows[0], ("d", "e", "f", None, None, "y")])
