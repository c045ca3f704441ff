"""The end-to-end KG-construction pipeline with checkpoint/resume.

Restates Surfactant's ``generate`` lifecycle
(surfactant/cmd/generate.py:278-615) as staged DataFrame→DataFrame
functions with materialized boundaries:

  stage 1 extract   pages → extracted           (narrow; Arrow UDF)
  stage 2 mentions  unique content → mentions   (broadcast dict, Arrow UDF)
  stage 3 entity_map alias edges → canonical ids (driver union-find)
  stage 4 nodes     groupBy-canonical merge     (shuffle)
  stage 5 edges     Uses/LinksTo/Contains joins (broadcast + skew-aware)

Each stage commits a snapshot to the catalog keyed by a fingerprint of
(code version, params, upstream fingerprints); a re-run with unchanged
fingerprints is a pure catalog read — run-twice == run-once
(BASELINE.md resumability row).  Node/edge outputs are partitioned by
``lang`` per the north rule; bucketing by entity hash is an Iceberg
table property in production (parquet stand-in has no bucket metadata,
so we note it here rather than fake it).
"""

from __future__ import annotations

import functools
import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .. import __version__
from ..dictionary import alias_edges, compile_dictionary
from ..operators.canonicalize import entity_canonical_map
from ..operators.extract import extract_pages
from ..operators.linking import aliased_entity_keys, build_edges, build_nodes
from ..operators.mentions import content_for_detection, detect_mentions
from .catalog import SnapshotCatalog
from .lineage import LineageCollector


@dataclass
class PipelineResult:
    nodes: DataFrame
    edges: DataFrame
    lineage: DataFrame
    stages_run: list[str]
    stages_skipped: list[str]
    stage_seconds: dict[str, float] | None = None  # wall per executed stage


def _fingerprint(*parts: object) -> str:
    return hashlib.sha256(json.dumps([str(p) for p in parts]).encode()).hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    catalog: SnapshotCatalog,
    run_id: str = "run-0",
    corpus_fingerprint: str = "corpus-0",
    dict_rows=None,
    extra_alias_edges=None,
    resume: bool = True,
) -> PipelineResult:
    compiled = compile_dictionary(dict_rows)
    edges_in = alias_edges(dict_rows, extra_alias_edges)
    dict_fp = _fingerprint([p.pattern for p in compiled.patterns], edges_in)
    lineage = LineageCollector(spark, run_id)
    stages_run: list[str] = []
    stages_skipped: list[str] = []

    stage_seconds: dict[str, float] = {}

    def stage(name: str, fp: str, compute, partition_by=None) -> DataFrame:
        if resume and catalog.has(name, fp):
            stages_skipped.append(name)
            return catalog.read(spark, name)
        import time as _time

        t0 = _time.monotonic()
        df = lineage.wrap(compute(), name)
        catalog.write(df, name, fp, partition_by=partition_by)
        stage_seconds[name] = round(_time.monotonic() - t0, 3)
        stages_run.append(name)
        return catalog.read(spark, name)

    fp_extract = _fingerprint(__version__, "extract", corpus_fingerprint)
    extracted = stage(
        "extracted",
        fp_extract,
        lambda: extract_pages(pages),
        partition_by=["lang"],
    )

    # ONE corpus-stats probe decides both the mention pre-dedup path and
    # whether Uses edges need a dedup shuffle (they don't when mentions
    # ran over per-content rows) — the shared stats pass.  Lazy: only a
    # mentions or edges stage that actually computes pays for it, so a
    # full resume never scans the extracted snapshot.
    from ..operators.mentions import CONTENT_DEDUP_THRESHOLD
    from ..stats import column_stats, dup_rate

    @functools.cache
    def content_stats() -> tuple[int, int]:
        return column_stats(extracted, "content_sha256")

    fp_mentions = _fingerprint(__version__, "mentions", fp_extract, dict_fp)
    mentions = stage(
        "mentions",
        fp_mentions,
        lambda: detect_mentions(
            content_for_detection(extracted, stats=content_stats()), compiled
        ),
    )

    fp_emap = _fingerprint(__version__, "entity_map", dict_fp)
    emap = stage(
        "entity_map",
        fp_emap,
        lambda: entity_canonical_map(
            spark, sorted({p.entity_key for p in compiled.patterns}), edges_in
        ),
    )

    fp_nodes = _fingerprint(__version__, "nodes", fp_extract, fp_mentions, fp_emap)
    nodes = stage(
        "nodes",
        fp_nodes,
        lambda: build_nodes(extracted, mentions, emap),
        partition_by=["lang"],
    )

    fp_edges = _fingerprint(__version__, "edges", fp_extract, fp_mentions, fp_emap)
    edges = stage(
        "edges",
        fp_edges,
        lambda: build_edges(
            extracted, mentions, emap,
            mentions_unique=dup_rate(content_stats()) >= CONTENT_DEDUP_THRESHOLD,
            # injective ⟺ no alias edge joins two distinct keys (free
            # driver-side check on the dictionary-sized edge list);
            # non-injective maps need the Uses dedup even over
            # per-content mentions (two aliases → one canonical_id) —
            # but only for mentions of the aliased keys, so the dedup
            # shuffle shrinks to that sliver
            entity_map_injective=not any(a != b for a, b in edges_in),
            aliased_keys=aliased_entity_keys(edges_in),
        ),
        partition_by=["lang"],
    )

    # commit lineage rows gathered during this run
    lin_df = lineage.to_df()
    if stages_run:
        catalog.write(lin_df, "lineage", _fingerprint(run_id, stages_run))

    return PipelineResult(
        nodes=nodes,
        edges=edges,
        lineage=lin_df,
        stages_run=stages_run,
        stages_skipped=stages_skipped,
        stage_seconds=stage_seconds,
    )


def run_pipeline_incremental(
    spark: SparkSession,
    delta_pages: DataFrame,
    catalog: SnapshotCatalog,
    run_id: str = "run-inc",
    delta_fingerprint: str = "delta-0",
    dict_rows=None,
    extra_alias_edges=None,
) -> PipelineResult:
    """Incremental corpus update — the reference's incremental-SBOM
    input path (surfactant/cmd/generate.py:308-314: start from an
    existing SBOM, add new specimens) and the Iceberg MERGE INTO /
    append-snapshot shape the north rule names, at pipeline level.

    Cost model at 100 TB: the per-DOCUMENT stages (extract, mention
    detection — the UDF-heavy, byte-touching work) run ONLY on the
    delta and land as APPEND snapshots (catalog ``mode="append"``:
    delta bytes written, base never rewritten).  Mention detection is
    further trimmed to delta contents whose hash was never seen in the
    base — an anti-join against the base's distinct hashes — so
    re-crawled duplicates cost nothing.  The graph-construction JOINS
    (nodes, edges) recompute over base ∪ delta: LinksTo is corpus-wide
    (a delta page may be the target of a base page's link), so edge
    recomputation is semantically required; these are the cheap,
    shuffle-bound stages (SCALING.md: sub-linear, no Python).

    Equivalence contract (tested): nodes/edges equal a from-scratch
    ``run_pipeline`` on base ∪ delta, row-for-row.

    Requires a prior ``run_pipeline`` (or incremental run) to have
    committed ``extracted`` and ``mentions`` snapshots in ``catalog``."""
    compiled = compile_dictionary(dict_rows)
    edges_in = alias_edges(dict_rows, extra_alias_edges)
    dict_fp = _fingerprint([p.pattern for p in compiled.patterns], edges_in)
    lineage = LineageCollector(spark, run_id)
    stages_run: list[str] = []

    base_ext_info = catalog.snapshot_info("extracted")
    if base_ext_info is None or catalog.snapshot_info("mentions") is None:
        raise ValueError(
            "incremental update needs committed 'extracted' and 'mentions' "
            "snapshots — run run_pipeline on the base corpus first"
        )
    stages_skipped: list[str] = []

    # Idempotency ledger (ADVICE r5): foreachBatch delivery is
    # at-least-once, so a crash between the catalog commit and the
    # stream-checkpoint commit REPLAYS this whole function with the same
    # delta_fingerprint.  Each append records the delta id it folds in
    # (catalog.applied_deltas); a replayed append is skipped instead of
    # double-appending corpus rows.  The two appends are checked
    # independently — a crash BETWEEN them replays with extract already
    # applied, in which case the pre-delta base is reconstructed from
    # the snapshot log (time travel) so the mentions anti-join still
    # sees the delta contents as new.
    ext_applied = delta_fingerprint in catalog.applied_deltas("extracted")
    ment_applied = delta_fingerprint in catalog.applied_deltas("mentions")

    # extract: delta only, appended (skipped on replay)
    if not ext_applied:
        base_extracted = catalog.read(spark, "extracted")
        fp_extract = _fingerprint(
            __version__, "extract+", base_ext_info["fingerprint"],
            delta_fingerprint,
        )
        delta_ext = lineage.wrap(extract_pages(delta_pages), "extract_delta")
        catalog.write(delta_ext, "extracted", fp_extract,
                      partition_by=["lang"], mode="append",
                      applied_delta=delta_fingerprint)
        stages_run.append("extract_delta")
    else:
        stages_skipped.append("extract_delta")
        fp_extract = base_ext_info["fingerprint"]
        if not ment_applied:
            # crash window: delta landed in 'extracted' but not in
            # 'mentions'.  Anti-join must run against the PRE-delta
            # base or the replayed delta looks already-seen; the
            # snapshot log pins that state.
            hist = catalog.history("extracted")
            idx = next(
                i for i, h in enumerate(hist)
                if h.get("applied_delta") == delta_fingerprint
            )
            base_extracted = catalog.read(
                spark, "extracted", snapshot=hist[idx - 1]["snapshot"]
            )
            delta_ext = extract_pages(delta_pages)  # recompute, unwritten
    extracted = catalog.read(spark, "extracted")

    # mentions: only delta contents never seen in the base.  The
    # anti-join key is the content hash — two short columns against the
    # base's distinct-hash projection, no text shuffled.
    from ..operators.mentions import unique_content

    if not ment_applied:
        new_content = unique_content(delta_ext).join(
            base_extracted.select("content_sha256").distinct(),
            "content_sha256",
            "left_anti",
        )
        fp_mentions = _fingerprint(__version__, "mentions+", fp_extract, dict_fp)
        delta_mentions = lineage.wrap(
            detect_mentions(new_content, compiled), "mentions_delta"
        )
        catalog.write(delta_mentions, "mentions", fp_mentions, mode="append",
                      applied_delta=delta_fingerprint)
        stages_run.append("mentions_delta")
    else:
        stages_skipped.append("mentions_delta")
        fp_mentions = catalog.snapshot_info("mentions")["fingerprint"]
    mentions = catalog.read(spark, "mentions")

    # entity map: dictionary-scoped, rebuilt (dictionary-sized work)
    fp_emap = _fingerprint(__version__, "entity_map", dict_fp)
    emap = entity_canonical_map(
        spark, sorted({p.entity_key for p in compiled.patterns}), edges_in
    )
    catalog.write(emap, "entity_map", fp_emap)
    emap = catalog.read(spark, "entity_map")

    # graph joins: corpus-wide recompute over base ∪ delta.  The base
    # mentions snapshot may hold per-row (non-unique) mentions while the
    # delta holds per-content rows, so the Uses family always dedups
    # (mentions_unique=False).
    fp_nodes = _fingerprint(__version__, "nodes", fp_extract, fp_mentions, fp_emap)
    nodes_df = lineage.wrap(build_nodes(extracted, mentions, emap), "nodes")
    catalog.write(nodes_df, "nodes", fp_nodes, partition_by=["lang"])
    stages_run.append("nodes")
    nodes = catalog.read(spark, "nodes")

    fp_edges = _fingerprint(__version__, "edges", fp_extract, fp_mentions, fp_emap)
    edges_df = lineage.wrap(
        build_edges(extracted, mentions, emap, mentions_unique=False), "edges"
    )
    catalog.write(edges_df, "edges", fp_edges, partition_by=["lang"])
    stages_run.append("edges")
    edges = catalog.read(spark, "edges")

    lin_df = lineage.to_df()
    catalog.write(lin_df, "lineage", _fingerprint(run_id, stages_run))
    return PipelineResult(
        nodes=nodes,
        edges=edges,
        lineage=lin_df,
        stages_run=stages_run,
        stages_skipped=stages_skipped,
    )
