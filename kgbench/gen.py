"""Seeded input generator for the KG-construction benchmark.

Everything the program sees is a ``pages`` row made by
``ferenda_spark.corpus.page_row`` from a generated document
``(doc_id, text, lang, source)``.  Two edits are applied on top of the
corpus' closed form, both in the page bytes *and* in the ``text``
column, so a page stays self-consistent:

* ``same_as`` override: the planted "Identical to Document N." sentence
  is rewritten (or removed) to build sameAs chains other than the
  corpus' fixed 4-link ones (``sameas_deep``);
* ``malformed``: the header block of an RFC-kind page is cut out, so the
  RFC FSM raises and the page must be quarantined.

A workload's input is a list of :class:`PageSpec`; the page bytes and
the verifier's expectation are both pure functions of it, so the same
seed gives byte-identical pages and the same expectation.  Nothing here
imports Spark.
"""

from __future__ import annotations

import os
import random
import re
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq

from ferenda_spark.corpus import page_row
from ferenda_spark.htmlelements import extract_document

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter vector query table the key window join "
         "data customer stream big merge row").split()
LANGS = ("en", "en", "en", "fr", "de", "es", "zh")
N_SOURCES = 20

# build_web: doc-id blocks of this many pages, at disjoint slots
BLOCKS = 8
BLOCK_SLOTS = 64
MALFORMED_SHARE = 0.01
# sameas_deep: chain lengths ~ Pareto(CHAIN_ALPHA), capped
CHAIN_ALPHA = 1.1
CHAIN_CAP = 64
# incremental_ingest: share of the base recrawled with new html / added
CHANGED_SHARE = 0.05
NEW_SHARE = 0.05

_IDENT_RE = re.compile(r"(Contact Entity \d+\.)(?: Identical to Document \d+\.)?")
_RFC_HEADER_RE = re.compile(r"<pre>Network Working Group.*?\n\n", re.S)


class PageSpec(NamedTuple):
    doc_id: int
    text: str
    lang: str
    source: str
    same_as: int | None
    malformed: bool


def closed_form_same_as(doc_id: int) -> int | None:
    """The corpus' own planted sameAs target (``corpus.doc_facts``)."""
    return doc_id - 1 if doc_id % 4 != 0 else None


def is_rfc_kind(doc_id: int) -> bool:
    return doc_id % 5 == 4


def _body_text(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 90)))


def _spec(rng: random.Random, doc_id: int, same_as="closed",
          malformed: bool = False) -> PageSpec:
    return PageSpec(doc_id, _body_text(rng), rng.choice(LANGS),
                    "src%d" % rng.randrange(N_SOURCES),
                    closed_form_same_as(doc_id) if same_as == "closed"
                    else same_as, malformed)


def _pick_malformed(rng: random.Random, candidates: list, n_pages: int) -> set:
    k = max(1, round(MALFORMED_SHARE * n_pages))
    return set(rng.sample(sorted(candidates), k))


def build_web(seed: int, block: int) -> list:
    """BLOCKS disjoint blocks of ``block`` consecutive doc ids at seeded
    slots; the corpus' hot domain (doc_id % 10 < 3) and 4-link sameAs
    chains stay as planted; 1% of pages are malformed RFC pages."""
    rng = random.Random("build_web:%d" % seed)
    slots = sorted(rng.sample(range(BLOCK_SLOTS), BLOCKS))
    ids = [s * block + i for s in slots for i in range(block)]
    bad = _pick_malformed(rng, [d for d in ids if is_rfc_kind(d)], len(ids))
    return [_spec(rng, d, malformed=d in bad) for d in ids]


def chain_lengths(rng: random.Random, n: int) -> list:
    """Heavy-tailed chain lengths summing to ``n``; the first chain has
    the capped length, so every seed reaches the tail."""
    out, left = [min(CHAIN_CAP, n)], n - min(CHAIN_CAP, n)
    while left:
        k = min(CHAIN_CAP, int(rng.paretovariate(CHAIN_ALPHA)), left)
        out.append(k)
        left -= k
    return out


def sameas_deep(seed: int, n: int) -> list:
    """``n`` pages whose sameAs targets form seeded heavy-tailed chains
    over a random permutation of the doc ids (member i names member
    i-1; the head names nobody).  The malformed pages are drawn first
    and left out of the chains, so quarantine never cuts a chain."""
    rng = random.Random("sameas_deep:%d" % seed)
    bad = _pick_malformed(rng, [d for d in range(n) if is_rfc_kind(d)], n)
    perm = [d for d in range(n) if d not in bad]
    rng.shuffle(perm)
    target, pos = dict.fromkeys(bad), 0
    for k in chain_lengths(rng, len(perm)):
        chain = perm[pos:pos + k]
        pos += k
        target[chain[0]] = None
        for prev, cur in zip(chain, chain[1:]):
            target[cur] = prev
    return [_spec(rng, d, same_as=target[d], malformed=d in bad)
            for d in range(n)]


def recrawl(seed: int, base: list) -> list:
    """A recrawl of ``base``: every base page again, CHANGED_SHARE of the
    well-formed ones with new body text (new html, same planted facts),
    plus NEW_SHARE new pages from an unused doc-id block (1% of them
    malformed).  Unchanged pages are the identical specs."""
    rng = random.Random("recrawl:%d" % seed)
    n_new = max(1, round(NEW_SHARE * len(base)))
    ok = [i for i, p in enumerate(base) if not p.malformed]
    changed = set(rng.sample(ok, max(1, round(CHANGED_SHARE * len(base)))))
    out = [p._replace(text=_body_text(rng)) if i in changed else p
           for i, p in enumerate(base)]
    start = (max(p.doc_id for p in base) // n_new + 1) * n_new
    ids = range(start, start + n_new)
    bad = _pick_malformed(rng, [d for d in ids if is_rfc_kind(d)], n_new)
    return out + [_spec(rng, d, malformed=d in bad) for d in ids]


def page(spec: PageSpec) -> dict:
    """The pages row for one spec (``corpus.page_row`` plus the edits)."""
    row = page_row(spec.doc_id, spec.text, spec.lang, spec.source)
    html = row["html"].decode("utf-8")
    if spec.same_as != closed_form_same_as(spec.doc_id):
        sentence = (r"\1 Identical to Document %d." % spec.same_as
                    if spec.same_as is not None else r"\1")
        html = _IDENT_RE.sub(sentence, html, count=1)
        row["text"] = _IDENT_RE.sub(sentence, row["text"], count=1)
    if spec.malformed:
        html = _RFC_HEADER_RE.sub("<pre>", html, count=1)
        row["text"] = extract_document(html.encode("utf-8"),
                                       default_lang=spec.lang)["text"]
    row["html"] = html.encode("utf-8")
    return row


def write_pages(specs, path: str, cache: dict | None = None) -> None:
    """Write the pages rows of ``specs`` as one parquet file in the
    ``corpus.PAGES_SCHEMA`` layout.  ``cache`` (spec -> row) lets page
    sets that share specs generate each page once."""
    cache = {} if cache is None else cache
    rows = [cache[s] if s in cache else cache.setdefault(s, page(s))
            for s in specs]
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path)
    pq.write_table(pa.table({f.name: [r[f.name] for r in rows]
                             for f in schema}, schema=schema),
                   os.path.join(path, "pages.parquet"))
