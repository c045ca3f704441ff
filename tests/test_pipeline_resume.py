"""The corpus-stats probe runs only for stages that compute: one probe
serves both mentions and edges on a build, and a full resume runs none."""

from surfactant_spark import stats
from surfactant_spark.plans.catalog import SnapshotCatalog
from surfactant_spark.plans.pipeline import run_pipeline
from surfactant_spark.sources.pages import synth_pages


def test_full_resume_never_probes_corpus_stats(spark, tmp_path, monkeypatch):
    calls = []
    probe = stats.column_stats

    def counting(df, col, *args, **kwargs):
        calls.append(col)
        return probe(df, col, *args, **kwargs)

    monkeypatch.setattr(stats, "column_stats", counting)
    catalog = SnapshotCatalog(str(tmp_path / "catalog"))
    pages = synth_pages(spark, 60)

    first = run_pipeline(spark, pages, catalog, run_id="r1", corpus_fingerprint="synth-60")
    assert {"mentions", "edges"} <= set(first.stages_run)
    assert calls == ["content_sha256"]

    calls.clear()
    second = run_pipeline(spark, pages, catalog, run_id="r2", corpus_fingerprint="synth-60")
    assert second.stages_run == []
    assert calls == []
    assert sorted(second.edges.collect()) == sorted(first.edges.collect())
