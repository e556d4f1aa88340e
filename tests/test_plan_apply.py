"""``sqlgen.Plan.apply`` runs each codegen segment as ONE nested SELECT
through ``spark.sql`` over a temp view of its input.  These tests pin
what that path must keep from the per-stage ``selectExpr`` spelling it
replaced — identical executed plans and rows, a cached input still
read from memory, streaming frames still streaming — and that it leaves
no temp view behind, whether analysis succeeds or fails."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.errors import AnalysisException

from petropandas_spark import datasets, minerals, minerals_ext, sqlgen
from petropandas_spark.frame import PetroFrame
from petropandas_spark.hpxeos.metapelite import PHASES

# (bundled table, PetroFrame call, mineral) — the Plan-based calls of the
# interactive notebook benchmark mix
NOTEBOOK_CALLS = [
    ("minerals", "end_members", "Garnet"),
    ("minerals", "mineral_apfu", "Clinopyroxene"),
    ("minerals", "end_members", "Amphibole"),
    ("minerals", "site_allocations", "Biotite"),
    ("minerals", "check_stoichiometry", "Feldspar"),
    ("minerals", "end_members", "Biotite"),
    ("minerals", "site_allocations", "Garnet"),
    ("minerals", "end_members", "Clinopyroxene"),
    ("minerals", "mineral_apfu", "Amphibole"),
    ("minerals", "check_stoichiometry", "Garnet"),
    ("grt_profile", "end_members", "Garnet"),
    ("grt_profile", "phase_end_members", "g"),
    ("minerals", "phase_end_members", "g"),
]
CONFIGS = {"Garnet": minerals.GARNET,
           "Clinopyroxene": minerals.CLINOPYROXENE,
           "Amphibole": minerals_ext.AMPHIBOLE,
           "Biotite": minerals_ext.BIOTITE,
           "Feldspar": minerals.FELDSPAR, "g": PHASES["g"]}
MINERAL_ROWS = {"Feldspar": ["Plagioclase", "K-feldspar"], "g": "Garnet"}


def _apply_per_stage(plan, df):
    """The replaced spelling: one ``selectExpr`` (plus its filters) per
    stage, and a codegen barrier before the stage whose expression text
    would carry the span past CODEGEN_SPLIT_TEXT."""
    q = sqlgen.SPARK.quote
    acc = 0
    for i, st in enumerate(plan.stages):
        rendered = st.render(sqlgen.SPARK)
        weight = sum(len(e) for a, e in rendered if e != q(a))
        if acc and acc + weight > sqlgen.CODEGEN_SPLIT_TEXT:
            df = sqlgen.codegen_barrier(df)
            acc = 0
        acc += weight
        df = df.selectExpr(*[f"{e} AS {q(a)}" for a, e in rendered])
        for pred in plan.filters.get(i, []):
            df = df.filter(pred if isinstance(pred, str)
                           else pred(sqlgen.SPARK.quote))
    return df


def _executed(df) -> str:
    """Executed plan text with expression ids blanked."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?", "#", plan)


def _plan_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables()
            if t.name.startswith("__petro_plan_")]


def _notebook_call(spark, table, call, what):
    pf = PetroFrame.ingest(datasets.load(spark, table))
    if table == "minerals":
        pf = pf.select_rows(MINERAL_ROWS.get(what, what), on="Mineral")
    return getattr(pf, call)(CONFIGS[what]).df


@pytest.mark.parametrize("table,call,what", NOTEBOOK_CALLS)
def test_notebook_call_matches_per_stage_spelling(spark, monkeypatch,
                                                  table, call, what):
    got = _notebook_call(spark, table, call, what)
    with monkeypatch.context() as m:
        m.setattr(sqlgen.Plan, "apply", _apply_per_stage)
        want = _notebook_call(spark, table, call, what)
    assert _executed(got) == _executed(want)
    assert got.columns == want.columns
    pd.testing.assert_frame_equal(got.toPandas(), want.toPandas())
    assert _plan_views(spark) == []


def test_cached_input_stays_cached(spark):
    raw = datasets.load(spark, "minerals").cache()
    try:
        raw.count()
        out = PetroFrame.ingest(raw).mineral_apfu(minerals.GARNET).df
        assert raw.is_cached
        assert not spark._jsparkSession.sharedState().cacheManager() \
            .lookupCachedData(raw._jdf).isEmpty()
        optimized = out._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in optimized
        assert out.count() == datasets.ROWS["minerals"]
    finally:
        raw.unpersist()


def test_no_temp_view_left_after_success_or_failure(spark):
    pf = PetroFrame.ingest(datasets.load(spark, "minerals"))
    pf.mineral_apfu(minerals.GARNET)
    assert _plan_views(spark) == []
    # "SiO2 " cleans to a second SiO2 column: the apfu segment's SELECT
    # fails analysis on the ambiguous name
    dup = spark.createDataFrame(pd.DataFrame(
        {"SiO2": [38.5], "SiO2 ": [1.0], "FeO": [28.3]}))
    with pytest.raises(AnalysisException, match="AMBIGUOUS_REFERENCE"):
        PetroFrame.ingest(dup).mineral_apfu(minerals.GARNET)
    assert _plan_views(spark) == []


def test_streaming_input_stays_streaming(spark, tmp_path):
    src = tmp_path / "src"
    datasets.load(spark, "minerals").write.parquet(str(src))
    raw = datasets.load(spark, "minerals")
    stream = spark.readStream.schema(raw.schema).parquet(str(src))
    out = PetroFrame.ingest(stream).mineral_apfu(minerals.GARNET).df
    assert out.isStreaming
    assert _plan_views(spark) == []
    q = (out.writeStream.format("memory").queryName("plan_apply_stream")
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
        n = spark.sql("SELECT count(*) FROM plan_apply_stream").first()[0]
    finally:
        q.stop()
        spark.catalog.dropTempView("plan_apply_stream")
    assert n == datasets.ROWS["minerals"]
