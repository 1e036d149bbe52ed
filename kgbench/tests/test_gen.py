"""The seeded generator: deterministic per seed, different across seeds,
and the planted edits (sameAs chains, malformed pages) behave as the
workloads need."""

import pytest

from ferenda_spark.htmlelements import extract_document
from ferenda_spark.parsepage import parse_page
from kgbench import gen


def _pages(specs):
    return [gen.page(s) for s in specs]


@pytest.mark.parametrize("make", [
    lambda seed: gen.build_web(seed, 30),
    lambda seed: gen.sameas_deep(seed, 300),
    lambda seed: gen.recrawl(seed, gen.build_web(seed, 30)),
])
def test_same_seed_same_bytes_other_seed_other_bytes(make):
    a, b, c = make(7), make(7), make(8)
    assert a == b
    assert _pages(a) == _pages(b)
    assert a != c
    assert [p["html"] for p in _pages(a)] != [p["html"] for p in _pages(c)]


def test_build_web_blocks_are_disjoint_and_one_percent_malformed():
    specs = gen.build_web(3, 100)
    ids = [s.doc_id for s in specs]
    assert len(ids) == len(set(ids)) == gen.BLOCKS * 100
    assert sum(s.malformed for s in specs) == 8
    assert all(gen.is_rfc_kind(s.doc_id) for s in specs if s.malformed)


def test_malformed_pages_raise_in_the_parser_and_others_do_not():
    specs = gen.build_web(1, 50)
    for spec in specs:
        if not gen.is_rfc_kind(spec.doc_id):
            continue
        raw = gen.page(spec)["html"]
        if spec.malformed:
            with pytest.raises(Exception):
                parse_page(raw)
        else:
            parse_page(raw)


def test_edited_pages_keep_text_equal_to_their_extraction():
    specs = gen.sameas_deep(2, 200)
    edited = [s for s in specs
              if s.same_as != gen.closed_form_same_as(s.doc_id)
              or s.malformed]
    assert edited
    for spec in edited:
        row = gen.page(spec)
        assert row["text"] == extract_document(
            row["html"], default_lang=spec.lang)["text"]


def test_edited_sameas_sentence_is_what_the_parser_sees():
    for spec in gen.sameas_deep(4, 200):
        text = parse_page(gen.page(spec)["html"])["text"] \
            if not spec.malformed else None
        if text is None:
            continue
        if spec.same_as is None:
            assert "Identical to Document" not in text
        else:
            assert "Identical to Document %d." % spec.same_as in text


def test_sameas_deep_chains_have_a_tail_past_25_hops():
    specs = gen.sameas_deep(1, 2000)
    target = {s.doc_id: s.same_as for s in specs}

    def depth(d):
        n = 0
        while target[d] is not None:
            d, n = target[d], n + 1
        return n
    assert max(depth(d) for d in target) > 25
    assert sum(s.malformed for s in specs) == 20
    # malformed pages are single-page chains: quarantine cuts no chain
    named = {t for t in target.values() if t is not None}
    assert all(s.same_as is None and s.doc_id not in named
               for s in specs if s.malformed)


def test_sameas_deep_works_for_every_seed_at_small_sizes():
    for seed in range(300):
        specs = gen.sameas_deep(seed, 100)
        assert sum(s.malformed for s in specs) == 1


def test_recrawl_changes_five_percent_and_adds_five_percent():
    base = gen.build_web(5, 100)
    crawl = gen.recrawl(5, base)
    old = set(base)
    changed = [s for s in crawl[:len(base)] if s not in old]
    new = crawl[len(base):]
    assert len(changed) == len(new) == 40
    assert all(c.doc_id == b.doc_id and c.text != b.text
               for c, b in zip(crawl, base) if c not in old)
    assert not {s.doc_id for s in new} & {s.doc_id for s in base}
