"""Seeded benchmark inputs: page corpora, dictionaries and their oracles.

Everything here runs on the driver in plain Python, outside any timed
region.  The workload seed reaches the program only through the inputs:

* pages: ``testing.corpus`` pins ``SEED = 42``; the generator below swaps
  the module attribute for the duration of one generation, so every page
  field (hosts, links, mentions, text) follows the workload seed without
  editing the module;
* dictionary: the synthetic entities come from ``synth_dictionary_rows``
  with a seed string derived from the workload seed.

Pages and oracle digests are cached per (seed, size, body scale) under the
benchmark's work directory, so repeated runs on one seed skip generation.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from surfactant_spark.dictionary import (
    DEFAULT_ALIAS_EDGES,
    DEFAULT_ROWS,
    compile_dictionary,
    synth_dictionary_rows,
)
from surfactant_spark.oracle import pyoracle
from surfactant_spark.testing import corpus

# every synthetic dictionary literal has this shape (lib + 8 hex digits)
_SYNTH_LITERAL = re.compile(r"lib[0-9a-f]{8}")
# synthetic entities are chained into alias groups of this many members
ALIAS_GROUP = 4


@contextlib.contextmanager
def corpus_seed(seed: int):
    """Generate pages under ``seed`` instead of the module's pinned SEED."""
    saved = corpus.SEED
    corpus.SEED = seed
    try:
        yield
    finally:
        corpus.SEED = saved


@dataclass
class Dictionary:
    rows: list
    extra_alias_edges: list
    synthetic_keys: list


def dictionary(seed: int, n_entities: int) -> Dictionary:
    """``DEFAULT_ROWS`` plus ``n_entities`` seeded synthetic entities,
    chained into alias groups through ``extra_alias_edges``.  The chains
    stay among synthetic keys, so the canonical ids of the built-in
    entities (the only ones pages mention) are unchanged."""
    synth = synth_dictionary_rows(n_entities, seed=f"kgbench-{seed}") if n_entities else []
    keys = [k for k, kind, _p, _h in synth if kind == "name"]
    chains = [
        (keys[i], keys[i + 1])
        for i in range(len(keys) - 1)
        if (i + 1) % ALIAS_GROUP
    ]
    return Dictionary(
        rows=DEFAULT_ROWS + synth,
        extra_alias_edges=list(DEFAULT_ALIAS_EDGES) + chains,
        synthetic_keys=keys,
    )


@dataclass
class Corpus:
    path: str            # parquet directory of the pages table
    n_pages: int
    parquet_bytes: int
    triples: set         # oracle triples over the whole corpus
    nodes: dict          # canonical_id -> comparable node tuple


def _pages(seed: int, n_pages: int, body_scale: int) -> list:
    with corpus_seed(seed):
        return [corpus.make_page(pid, n_pages, body_scale) for pid in range(n_pages)]


def _pages_table(pages: list) -> pa.Table:
    return pa.table(
        {
            "url": pa.array([p.url for p in pages], pa.string()),
            # naive corpus timestamps are UTC; the session runs with TZ=UTC
            "warc_ts": pa.array([p.warc_ts for p in pages], pa.timestamp("us", tz="UTC")),
            "html": pa.array([p.html for p in pages], pa.binary()),
            "text": pa.array([p.text for p in pages], pa.string()),
            "lang": pa.array([p.lang for p in pages], pa.string()),
        }
    )


def oracle_node(onode: dict) -> list:
    """The node fields the benchmark compares, in export-comparable form."""
    if onode["node_type"] == "page":
        return [
            "page",
            sorted(onode["urls"]),
            onode["captureStart"].strftime("%Y-%m-%d %H:%M:%S"),
        ]
    if onode["node_type"] == "entity":
        return ["entity", sorted(onode["names"]), onode["version"]]
    return [onode["node_type"]]


def exported_node(row: dict) -> list:
    """Same shape as :func:`oracle_node`, from one exported nodes.json row."""
    attrs = row.get("attrs") or {}
    if row["node_type"] == "page":
        return ["page", list(row.get("urls") or []), attrs.get("captureStart")]
    if row["node_type"] == "entity":
        return ["entity", list(row.get("names") or []), attrs.get("version")]
    return [row["node_type"]]


def _oracle(pages: list) -> tuple[set, dict]:
    """The pure-Python oracle over the built-in dictionary, fed the pages
    already generated (the oracle has no ``body_scale`` parameter, and
    generating every page twice would double the fixture time).  Pages
    never contain a synthetic literal (checked in :func:`build_corpus`),
    so synthetic entities cannot add mentions and the answer equals the
    one over the full dictionary, at a small fraction of the oracle's
    per-pattern scan cost."""
    compiled = compile_dictionary(DEFAULT_ROWS)

    def make_page(pid: int, n_pages: int):
        assert n_pages == len(pages)
        return pages[pid]

    saved = pyoracle.make_page
    pyoracle.make_page = make_page
    try:
        res = pyoracle.run_oracle(len(pages), compiled)
    finally:
        pyoracle.make_page = saved
    return res.triples, {cid: oracle_node(n) for cid, n in res.nodes.items()}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def build_corpus(
    cache_dir: Path, seed: int, n_pages: int, body_scale: int, dic: Dictionary
) -> Corpus:
    """Pages parquet plus oracle digest for (seed, size, scale, dictionary),
    generated once and cached.  Raises if a synthetic dictionary literal
    occurs in the page text (it would make the oracle's alias handling,
    which only knows the built-in alias edges, disagree with the run)."""
    key = f"s{seed}-n{n_pages}-b{body_scale}-d{len(dic.synthetic_keys)}"
    d = cache_dir / key
    pages_dir = d / "pages"
    digest_path = d / "oracle.json"
    if digest_path.exists():
        digest = json.loads(digest_path.read_text())
    else:
        pages = _pages(seed, n_pages, body_scale)
        synth = set(dic.synthetic_keys)
        for p in pages:
            clash = synth.intersection(_SYNTH_LITERAL.findall(p.text.lower()))
            if clash:
                raise ValueError(f"synthetic literal {sorted(clash)[0]} occurs in page text")
        pages_dir.mkdir(parents=True, exist_ok=True)
        pq.write_table(_pages_table(pages), str(pages_dir / "part-00000.parquet"), row_group_size=2048)
        triples, nodes = _oracle(pages)
        digest = {"triples": sorted(triples), "nodes": nodes}
        tmp = digest_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(digest))
        os.replace(tmp, digest_path)
    return Corpus(
        path=str(pages_dir),
        n_pages=n_pages,
        parquet_bytes=dir_bytes(str(pages_dir)),
        triples={tuple(t) for t in digest["triples"]},
        nodes=digest["nodes"],
    )


def edge_table(corpus_: Corpus, preds: tuple[str, ...]) -> str:
    """The oracle's ``preds`` triples as a parquet ``(src, dst)`` table
    beside the corpus; made once per corpus."""
    path = Path(corpus_.path).parent / "edges"
    if not path.exists():
        rows = sorted((s, o) for s, p, o in corpus_.triples if p in preds)
        table = pa.table({"src": [r[0] for r in rows], "dst": [r[1] for r in rows]})
        tmp = path.with_name("edges.tmp")
        tmp.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, str(tmp / "part-00000.parquet"))
        os.replace(tmp, path)
    return str(path)
