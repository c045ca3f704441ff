"""The benchmark workloads: shipped entry points on seeded inputs.

Every workload is a closed loop with one client: one op at a time, back
to back.  An iteration is the workload's primary op, optionally followed
by ``RESUMES`` resume ops (``run_pipeline`` on a committed catalog with
unchanged inputs; traced runs make them for the per-layer resume
figures):

* ``batch_build``: ``run_pipeline`` from an empty catalog plus
  ``write_graph_json`` (what ``generate --format json`` calls); resumes
  re-run it on that catalog.
* ``graph_analytics``: the graph suite over the LinksTo/Uses edges of a
  knowledge graph made in setup, each result collected.

Fixtures (pages, oracle digests, edge tables) are made before the loop and are
not timed.  A warm-up iteration on a smaller input of the same workload
(the first op in the process) precedes the measured ones.  Each op's output is checked after its timed region; a check
that fails, or an op that raises, counts the op as failed.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import duckdb

from surfactant_spark.operators import canonicalize, graphquery
from surfactant_spark.plans.catalog import SnapshotCatalog
from surfactant_spark.plans.pipeline import run_pipeline
from surfactant_spark.sources import sinks

from . import graph_oracle, inputs

# Input sizes per workload and scale: the warm-up op's input and the
# measured ops' input.  The warm-up op, the first in the process, pays
# about 10 s of JIT compilation, class loading and code generation at any
# input size, so a small input warms the JVM for the measured ops at less
# cost than the full one.  The "tiny" scale exists for the benchmark's
# self-test only.
_TINY_BUILD = {"pages": 120, "body_scale": 8, "entities": 40}
_TINY_GRAPH = {"pages": 200, "scc_depth": 4}
SIZES = {
    "batch_build": {
        "full": {
            "warmup": {"pages": 200, "body_scale": 8, "entities": 1500},
            "measured": {"pages": 1500, "body_scale": 8, "entities": 1500},
        },
        "tiny": {"warmup": _TINY_BUILD, "measured": _TINY_BUILD},
    },
    "graph_analytics": {
        "full": {
            "warmup": {"pages": 300, "scc_depth": 4},
            "measured": {"pages": 2500, "scc_depth": 4},
        },
        "tiny": {"warmup": _TINY_GRAPH, "measured": _TINY_GRAPH},
    },
}

# graph suite parameters (the fixed-round variants the oracles replay)
PAGERANK_ITERATIONS = 3  # the repository oracle SQL is fixed at 3 rounds
KCORE_K, KCORE_ROUNDS = 3, 3
LABEL_PROP_ROUNDS = 2
RESUMES = 3  # resume ops after an op; plans.pipeline.resume_s is their median


class CheckFailed(Exception):
    pass


@dataclass
class OpRecord:
    op: int
    kind: str
    seconds: float
    ok: bool
    role: str  # warm-up (first op, small input) | measured | probe
    traced: bool
    items: int = 0
    stored_bytes: int = 0
    error: str = ""


@dataclass
class Context:
    spark: object
    tracer: object
    work: Path
    cache: Path
    seed: int
    corrupt: bool = False
    records: list = field(default_factory=list)
    post_counts: dict = field(default_factory=dict)  # op -> {name: count}
    role: str = "measured"  # role of the ops run next (see OpRecord)

    def run_op(self, kind: str, fn, check, items: int = 0, stored=None, counts=None):
        """Time ``fn`` as one op inside its own root span, then check its
        result outside the timed region.  ``stored()`` gives the bytes the
        op left behind and ``counts()`` per-layer counts read from disk.
        Returns the result, or None when the op raised or failed its
        check."""
        op = len(self.records)
        tracer = self.tracer
        tracer.op = op
        rec = OpRecord(op, kind, 0.0, False, self.role, tracer.enabled, items)
        self.records.append(rec)
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{kind}"):
                out = fn()
            rec.seconds = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — an op that raises is a failed op
            rec.seconds = time.perf_counter() - t0
            rec.error = traceback.format_exc(limit=3)
            tracer.op = None
            return None
        tracer.op = None
        post = self.post_counts.setdefault(op, {})
        for what, df in tracer.post:
            post[what] = df.count()
        tracer.post.clear()
        try:
            if stored is not None:
                rec.stored_bytes = stored()
            if counts is not None:
                post.update(counts())
            check(out)
            rec.ok = True
        except Exception:  # noqa: BLE001 — a failed check is a failed op
            rec.error = traceback.format_exc(limit=3)
            return None
        return out


# ---------------------------------------------------------------------------
# output checks


def _read_json_lines(pattern: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def _drop_one_triple(out_dir: str) -> None:
    """Self-test corruption: delete the first exported edge line."""
    for path in sorted(glob.glob(f"{out_dir}/edges.json/part-*")):
        with open(path) as f:
            lines = f.readlines()
        if lines:
            with open(path, "w") as f:
                f.writelines(lines[1:])
            return


def _same(what: str, got, exp) -> None:
    if got != exp:
        if isinstance(got, (set, dict)):
            extra = [k for k in got if k not in exp or (isinstance(got, dict) and got[k] != exp[k])]
            missing = [k for k in exp if k not in got]
            raise CheckFailed(f"{what}: {len(missing)} missing, {len(extra)} wrong/extra, e.g. {(missing + extra)[:2]}")
        raise CheckFailed(f"{what}: got {got!r}, expected {exp!r}")


def check_export(ctx: Context, out_dir: str, triples: set, nodes: dict) -> None:
    if ctx.corrupt:
        _drop_one_triple(out_dir)
    got = {(r["subj"], r["pred"], r["obj"]) for r in _read_json_lines(f"{out_dir}/edges.json/part-*")}
    _same("exported triples", got, triples)
    got_nodes = {r["canonical_id"]: inputs.exported_node(r) for r in _read_json_lines(f"{out_dir}/nodes.json/part-*")}
    _same("exported nodes", got_nodes, nodes)


def _triples(df) -> set:
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def _check_resumed(res, triples: set) -> None:
    _same("stages run on resume", res.stages_run, [])
    _same("resumed triples", _triples(res.edges), triples)


def _resume_ops(ctx: Context, run, triples: set):
    """``RESUMES`` resume ops back to back: ``run(k)`` re-runs the pipeline
    on a committed catalog with unchanged inputs, timed through the node
    and edge counts.  Returns the last result, or None if it failed."""
    out = None
    for k in range(RESUMES):
        def resume(k=k):
            res = run(k)
            res.nodes.count()
            res.edges.count()
            return res

        out = ctx.run_op("resume", resume, lambda res: _check_resumed(res, triples))
    return out


def _count_files(path: Path) -> int:
    return sum(len(files) for _r, _d, files in os.walk(path))


# ---------------------------------------------------------------------------
# workloads


class BatchBuild:
    """Build from an empty catalog through export: ``body_scale=8`` pages
    (about 3.5 KB of html each) and a production-size dictionary."""

    primary = "build"
    unit = "pages"

    def __init__(self, ctx: Context, size: dict):
        self.dic = inputs.dictionary(ctx.seed, size["entities"])
        self.corpus = inputs.build_corpus(
            ctx.cache, ctx.seed, size["pages"], size["body_scale"], self.dic
        )
        self.fingerprint = f"pages-s{ctx.seed}-n{size['pages']}"

    def _pipeline(self, ctx: Context, catalog: SnapshotCatalog, run_id: str):
        with ctx.tracer.span("plans.pipeline.run_pipeline"):
            return run_pipeline(
                ctx.spark,
                ctx.spark.read.parquet(self.corpus.path),
                catalog,
                run_id=run_id,
                corpus_fingerprint=self.fingerprint,
                dict_rows=self.dic.rows,
                extra_alias_edges=self.dic.extra_alias_edges,
            )

    def iteration(self, ctx: Context, i: int, resumes: bool) -> None:
        cat_dir, out_dir = ctx.work / f"catalog{i}", ctx.work / f"out{i}"
        catalog = SnapshotCatalog(str(cat_dir))

        def build():
            res = self._pipeline(ctx, catalog, f"build-{i}")
            sinks.write_graph_json(res.nodes, res.edges, str(out_dir))
            return res

        built = ctx.run_op(
            "build",
            build,
            lambda _res: check_export(ctx, str(out_dir), self.corpus.triples, self.corpus.nodes),
            items=self.corpus.n_pages,
            stored=lambda: inputs.dir_bytes(str(cat_dir)) + inputs.dir_bytes(str(out_dir)),
            counts=lambda: {"catalog.files_written": _count_files(cat_dir),
                            "sinks.bytes_written": inputs.dir_bytes(str(out_dir))},
        )
        if built is not None and resumes:
            _resume_ops(ctx, lambda k: self._pipeline(ctx, catalog, f"resume-{i}.{k}"),
                        self.corpus.triples)
        shutil.rmtree(cat_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


class GraphAnalytics:
    """The graph fixpoints over the LinksTo/Uses edges of a knowledge graph
    made once in setup.  The graph comes from the reference implementation
    (the pure-Python oracle, whose triples ``run_pipeline`` must equal, as
    ``batch_build`` checks on every op): building it with Spark would
    cost a Spark pipeline run per benchmark run.  No Python UDF, catalog or
    lineage is involved, so no pipeline change can move this workload."""

    primary = "analytics"
    unit = "edges"

    def __init__(self, ctx: Context, size: dict):
        self.corpus = inputs.build_corpus(ctx.cache, ctx.seed, size["pages"], 1, inputs.dictionary(ctx.seed, 0))
        self.scc_depth = size["scc_depth"]
        self.edges_path = inputs.edge_table(self.corpus, ("LinksTo", "Uses"))
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE TABLE edges AS SELECT src, dst FROM read_parquet('{self.edges_path}/*.parquet')"
            )
            self.n_edges = con.execute("SELECT count(*) FROM edges").fetchone()[0]
            self.expected = {
                "pagerank": graph_oracle.pagerank(con),
                "kcore": graph_oracle.kcore(con, KCORE_K, KCORE_ROUNDS),
                "label_prop": graph_oracle.label_propagation(con, LABEL_PROP_ROUNDS),
                "scc": graph_oracle.scc(con, self.scc_depth),
                "cc": graph_oracle.connected_components(con),
            }
        finally:
            con.close()

    def iteration(self, ctx: Context, i: int, resumes: bool) -> None:
        def analytics():
            # each result is collected to the driver, which is what the
            # check reads; a separate noop-sink pass would double the op
            g = ctx.spark.read.parquet(self.edges_path)
            out = {}
            for name in ("pagerank", "kcore", "label_prop", "scc", "cc"):
                with ctx.tracer.span(f"analytics.{name}"):
                    out[name] = {r[0]: r[1] for r in self._algorithm(name, g).collect()}
            return out

        def check(out):
            if ctx.corrupt:
                out["pagerank"].pop(next(iter(out["pagerank"])))
            for name, exp in self.expected.items():
                _same(f"{name} vs DuckDB", out[name], exp)

        ctx.run_op("analytics", analytics, check, items=self.n_edges)

    def _algorithm(self, name: str, g):
        # called through the module attributes so a traced run sees them
        if name == "pagerank":
            return graphquery.pagerank_int(g, iterations=PAGERANK_ITERATIONS)
        if name == "kcore":
            return graphquery.kcore_peel(g, k=KCORE_K, rounds=KCORE_ROUNDS)
        if name == "label_prop":
            return graphquery.label_propagation(g, rounds=LABEL_PROP_ROUNDS)
        if name == "scc":
            return graphquery.scc_components(g, max_depth=self.scc_depth)
        return canonicalize.connected_components(
            g.selectExpr("src AS a", "dst AS b"), small_threshold=0
        )


WORKLOADS = {
    "batch_build": BatchBuild,
    "graph_analytics": GraphAnalytics,
}
