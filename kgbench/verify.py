"""Spark-free output verifier.

The expectation is computed in set-up from the planted closed-form facts
of every well-formed page (the same closed form the repo's DuckDB
oracles use, ``corpus.doc_facts``), with the sameAs components found by
a pure-Python union-find.  A committed output is read back from its
parquet files with pyarrow and checked three ways:

* the committed sameAs mapping must equal the union-find one vertex by
  vertex; a wrong component shows up as a count of wrong vertices;
* the committed triples must equal the expected page triples rewritten
  through the *committed* mapping, by row count plus an
  order-independent checksum (sum of per-row 64-bit BLAKE2b digests).
  Together with the first check this is the union-find canonical
  output; on its own it checks parse, triples, linking, rewrite and
  write even where canonicalization is wrong;
* the quarantined URL set must equal the planted malformed set.
"""

from __future__ import annotations

import hashlib
import os
from typing import NamedTuple

import pyarrow.parquet as pq

from ferenda_spark import vocab
from ferenda_spark.corpus import doc_facts, page_url
from ferenda_spark.operators.triples import (
    DOC_URI_PREFIX, ENTITY_URI_PREFIX, ORG_URI_PREFIX, RFC_URI_PREFIX,
    TRIPLE_COLS)

MASK = (1 << 64) - 1


def _doc_uri(doc_id: int) -> str:
    return DOC_URI_PREFIX + str(doc_id)


def page_triples(spec) -> list:
    """Triples the job must emit for one well-formed page, before
    canonicalization: doc, section, citation and entity-link triples."""
    f = doc_facts(spec.doc_id, spec.text, spec.lang, spec.source)
    d, url, lang = _doc_uri(spec.doc_id), f["url"], spec.lang
    out = [
        (d, vocab.RDF_TYPE, vocab.BIBO_DOCUMENT, None, None, url),
        (d, vocab.DCTERMS_TITLE, f["title"], None, lang, url),
        (d, vocab.DCTERMS_IDENTIFIER, f["identifier"], None, None, url),
        (d, vocab.DCTERMS_PUBLISHER, ORG_URI_PREFIX + str(f["publisher"]),
         None, None, url),
        (d, vocab.DCTERMS_ISSUED, f["issued"].isoformat(), vocab.XSD_DATE,
         None, url),
        (d, vocab.DCTERMS_SUBJECT, f["subject"], None, None, url),
        (d, vocab.PROV_WASGENERATEDBY, vocab.GENERATOR_ID, None, None, url),
        (d, vocab.FOAF_PAGE, url, None, None, url),
        (d, vocab.SCHEMA_MENTIONS, ENTITY_URI_PREFIX + str(f["entity"]),
         None, None, url),
    ]
    if spec.same_as is not None:
        out.append((d, vocab.OWL_SAMEAS, _doc_uri(spec.same_as), None, None,
                    url))
    for sec in f["sections"]:
        parts = [(sec["ordinal"], sec["title"], d,
                  RFC_URI_PREFIX + str(sec["rfc"]))]
        for sub in sec["subs"]:
            s, rfc = sub["sec_of_rfc"]
            parts.append((sub["ordinal"], sub["title"],
                          d + "#S" + sec["ordinal"],
                          "%s%d#S%d" % (RFC_URI_PREFIX, rfc, s)))
        for ordinal, title, parent, cites in parts:
            p = d + "#S" + ordinal
            out += [
                (p, vocab.RDF_TYPE, vocab.BIBO_DOCUMENTPART, None, None, url),
                (p, vocab.DCTERMS_TITLE, title, None, lang, url),
                (p, vocab.DCTERMS_ISPARTOF, parent, None, None, url),
                (p, vocab.BIBO_CHAPTER, ordinal, None, None, url),
                (p, vocab.DCTERMS_REFERENCES, cites, None, None, url),
            ]
    return out


def canonical_map(edges) -> dict:
    """Union-find over sameAs edges -> {uri: canonical uri}, canonical =
    the (length, value)-minimal member, as ``sameas_components``."""
    parent = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if (len(rb), rb) < (len(ra), ra):
                ra, rb = rb, ra
            parent[rb] = ra
    return {v: find(v) for v in parent}


def canonicalize(triples, mapping: dict) -> list:
    """``rewrite_canonical``: subject and object through the mapping,
    sameAs self-loops dropped."""
    out = []
    for s, p, o, dt, lang, ctx in triples:
        s, o = mapping.get(s, s), mapping.get(o, o)
        if p == vocab.OWL_SAMEAS and s == o:
            continue
        out.append((s, p, o, dt, lang, ctx))
    return out


def row_digest(row) -> int:
    h = hashlib.blake2b(
        "\x1f".join("\x00" if v is None else v for v in row).encode(),
        digest_size=8)
    return int.from_bytes(h.digest(), "little")


def checksum(rows) -> tuple:
    """(count, order-independent 64-bit checksum) of triple rows."""
    n = total = 0
    for r in rows:
        n += 1
        total = (total + row_digest(r)) & MASK
    return n, total


class Expected(NamedTuple):
    rows: list            # page triples, before canonicalization
    mapping: dict         # union-find sameAs mapping
    quarantined: frozenset
    pages: int


def expect(specs) -> Expected:
    """What a correct job commits for these pages."""
    ok = [s for s in specs if not s.malformed]
    edges = [(_doc_uri(s.doc_id), _doc_uri(s.same_as)) for s in ok
             if s.same_as is not None]
    bad = frozenset(page_url(s.doc_id, s.source) for s in specs
                    if s.malformed)
    return Expected([t for s in ok for t in page_triples(s)],
                    canonical_map(edges), bad, len(specs))


def expected_rows(specs) -> list:
    """The canonical triple rows a correct job commits."""
    exp = expect(specs)
    return canonicalize(exp.rows, exp.mapping)


def _column(path: str, *cols) -> list:
    tab = pq.read_table(path, columns=list(cols))
    return list(zip(*(tab.column(c).to_pylist() for c in cols)))


def wrong_vertices(mapping: dict, exp: Expected) -> int:
    """sameAs vertices whose committed canonical URI differs from the
    union-find one (a vertex missing on either side counts too)."""
    return sum(1 for v in mapping.keys() | exp.mapping.keys()
               if mapping.get(v) != exp.mapping.get(v))


class Verdict(NamedTuple):
    ok: bool
    count: int
    quarantined: int
    wrong_vertices: int
    triples_ok: bool      # triples right through the committed mapping
    reason: str


def check(out_dir: str, exp: Expected) -> Verdict:
    """Compare the output committed under ``out_dir`` (``triples``,
    ``mapping`` and ``quarantine`` tables) with the expectation."""
    rows = _column(os.path.join(out_dir, "triples"), *TRIPLE_COLS)
    mapping = dict(_column(os.path.join(out_dir, "mapping"),
                           "uri", "canonical_uri"))
    quarantine = [u for u, in _column(os.path.join(out_dir, "quarantine"),
                                      "url")]
    n, cs = checksum(rows)
    want_n, want_cs = checksum(canonicalize(exp.rows, mapping))
    wrong = wrong_vertices(mapping, exp)
    reasons = []
    if n != want_n:
        reasons.append("count %d != expected %d" % (n, want_n))
    if cs != want_cs:
        reasons.append("checksum mismatch")
    triples_ok = not reasons
    if wrong:
        reasons.append("%d sameAs vertices with a wrong canonical URI"
                       % wrong)
    if len(quarantine) != len(set(quarantine)) or \
            set(quarantine) != exp.quarantined:
        reasons.append("quarantined %d urls, planted %d"
                       % (len(quarantine), len(exp.quarantined)))
    return Verdict(not reasons, n, len(quarantine), wrong, triples_ok,
                   "; ".join(reasons))
