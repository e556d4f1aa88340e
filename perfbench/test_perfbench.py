"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_empa_and_bulk_deterministic():
    assert gen.digest(gen.empa_table(3, 5000), gen.bulk_table(3, 500)) == \
        gen.digest(gen.empa_table(3, 5000), gen.bulk_table(3, 500))
    assert gen.digest(gen.empa_table(3, 5000)) != \
        gen.digest(gen.empa_table(4, 5000))


def test_corpus_deterministic_and_fresh_per_op():
    a, b = gen.corpus_batch(7, 2, 200), gen.corpus_batch(7, 2, 200)
    for key in ("docs", "embeddings", "next"):
        pd.testing.assert_frame_equal(a[key], b[key])
    assert a["clusters"] == b["clusters"]
    assert a["cross_twins"] == b["cross_twins"]
    c = gen.corpus_batch(7, 3, 200)
    assert not set(a["docs"]["doc_id"]) & set(c["docs"]["doc_id"])


def test_written_inputs_byte_identical(tmp_path):
    def write(d):
        workloads._write_parts(gen.empa_table(5, 3000), str(d), 2)
        return [open(os.path.join(d, f), "rb").read()
                for f in sorted(os.listdir(d))]

    assert write(tmp_path / "a") == write(tmp_path / "b")


def test_anchor_rows_planted_verbatim():
    t = gen.empa_table(9, 2000).set_index("Analysis_ID")
    for aid, (label, comp) in gen.ANCHOR_ROWS.items():
        row = t.loc[aid]
        assert row["Mineral"] == label
        for ox in gen.OXIDES:
            assert row[ox] == comp.get(ox, 0.0)


def test_corpus_plants_dirty_rows_and_prefix_twins():
    b = gen.corpus_batch(11, 0, 400)
    text = b["docs"]["text"]
    assert text.isna().sum() >= 2
    assert (text == "").sum() >= 2
    assert (text.fillna("x").str.strip() == "").sum() >= 4
    docs = dict(zip(b["docs"]["doc_id"], text))
    nxt = dict(zip(b["next"]["doc_id"], b["next"]["text"]))
    for old, new in b["cross_twins"]:
        assert docs[old][:400] == nxt[new][:400]


def test_spec_mirrors_generator_params():
    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)
    assert spec["generators"] == json.loads(json.dumps(gen.PARAMS))
    assert spec["known_seed_failures"] == checks.KNOWN_SEED_FAILURES


# ---------------------------------------------------------------------------
# checks fail on corrupted outputs
# ---------------------------------------------------------------------------


def _anchor_outputs() -> dict[str, pd.DataFrame]:
    def one(aid, **cols):
        return pd.DataFrame([{"Analysis_ID": aid, "Total": 100.0, **cols}]
                            ).set_index("Analysis_ID")

    return {
        "cpx_apfu": one("ANCHOR-diopside", **{"Si{4+}": 2.0, "Mg{2+}": 1.0,
                                              "Ca{2+}": 1.0}),
        "fsp_apfu": one("ANCHOR-sanidine", **{"Si{4+}": 3.0, "Al{3+}": 1.0,
                                              "K{+}": 1.0}),
        "fsp_em": one("ANCHOR-sanidine", An=0.0, Ab=0.0, Or=100.0),
        "grtfe3_em": one("ANCHOR-andradite", Prp=0.4, Alm=0.0, Adr=98.5,
                         Uvr=1.1),
        "bt_em": one("ANCHOR-phlogopite", Phlogopite=97.9, Annite=2.1),
        "ilm_em": one("ANCHOR-ilmenite", Ilm=100.0, Gk=0.0),
        "ttn_em": one("ANCHOR-titanite", Ttn=100.0, Mal=0.0),
    }


def test_anchor_check_passes_on_fixture_values():
    assert checks.anchor_failures(_anchor_outputs()) == []


@pytest.mark.parametrize("key,a,b", [("grtfe3_em", "Adr", "Prp"),
                                     ("ilm_em", "Ilm", "Gk"),
                                     ("fsp_em", "Or", "An"),
                                     ("cpx_apfu", "Si{4+}", "Mg{2+}")])
def test_anchor_check_fails_on_permuted_column(key, a, b):
    outs = _anchor_outputs()
    outs[key] = outs[key].rename(columns={a: b, b: a})
    assert checks.anchor_failures(outs)


def test_anchor_check_fails_on_missing_row():
    outs = _anchor_outputs()
    outs["ttn_em"] = outs["ttn_em"].iloc[0:0]
    assert checks.anchor_failures(outs) == ["anchor_missing:ANCHOR-titanite"]


def test_end_member_sum_check():
    df = pd.DataFrame({"Prp": [20.0, 50.0], "Alm": [80.0, 50.0]})
    assert checks.end_member_sum_failures(df, ["Prp", "Alm"]) == []
    bad = df.assign(Alm=df["Alm"] * 1.01)
    assert checks.end_member_sum_failures(bad, ["Prp", "Alm"]) == ["em_sum"]


def test_score_and_nonnegative_checks():
    df = pd.DataFrame({"s": [0.0, 0.5, 1.0]})
    assert checks.score_range_failures(df, ["s"]) == []
    assert checks.score_range_failures(df + 0.5, ["s"]) == ["score_range"]
    assert checks.nonnegative_failures(df, ["s"]) == []
    assert checks.nonnegative_failures(df - 0.6, ["s"]) == ["negative"]


def _corpus():
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    texts = {1: base, 2: base + "lambda", 3: "completely different words",
             4: None, 5: None}
    pairs = pd.DataFrame({"doc_a": [1], "doc_b": [2]})
    return texts, pairs, [[1, 2]]


def test_verify_check_passes_and_catches_each_defect():
    texts, pairs, clusters = _corpus()
    assert checks.jaccard3(texts[1], texts[2]) >= 0.8
    assert checks.verify_failures(pairs, texts, clusters) == []
    dropped = pairs.iloc[0:0]
    assert checks.verify_failures(dropped, texts, clusters) == \
        ["planted_pair_missed"]
    low = pd.DataFrame({"doc_a": [1, 1], "doc_b": [2, 3]})
    assert checks.verify_failures(low, texts, clusters) == \
        ["verified_below_threshold"]
    nulls = pd.DataFrame({"doc_a": [1, 4], "doc_b": [2, 5]})
    assert checks.verify_failures(nulls, texts, clusters) == \
        ["null_text_verified"]


def test_shingles_match_program_semantics_for_short_text():
    assert checks.shingles3("") == {""}
    assert checks.shingles3("ab") == {"ab"}
    assert checks.shingles3("abcd") == {"abc", "bcd"}


def test_component_check():
    edges = pd.DataFrame({"a": [1, 3], "b": [2, 4]})
    comps = pd.DataFrame({"id": [1, 2, 3, 4, 5],
                          "component": [1, 1, 3, 3, 5]})
    assert checks.component_failures(comps, edges, "id", "a", "b", 5) == []
    split = comps.assign(component=[1, 2, 3, 3, 5])
    assert "edge_split" in checks.component_failures(
        split, edges, "id", "a", "b", 5)
    relabel = comps.assign(component=[2, 2, 3, 3, 5])
    assert "component_label" in checks.component_failures(
        relabel, edges, "id", "a", "b", 5)
    assert "components_rowcount" in checks.component_failures(
        comps.iloc[:4], edges, "id", "a", "b", 5)


def test_cosine_and_incremental_checks():
    vecs = {1: [1.0, 0.0], 2: [0.99, 0.01], 3: [0.0, 1.0]}
    ok = pd.DataFrame({"id_a": [1], "id_b": [2]})
    assert checks.cosine_failures(ok, vecs, 0.9) == []
    bad = pd.DataFrame({"id_a": [1], "id_b": [3]})
    assert checks.cosine_failures(bad, vecs, 0.9) == ["cosine_below_threshold"]
    pairs = pd.DataFrame({"doc_a": [10, 11], "doc_b": [20, 21]})
    assert checks.incremental_failures(pairs, [(20, 10), (11, 21)]) == []
    assert checks.incremental_failures(pairs.iloc[:1], [(20, 10), (11, 21)]) \
        == ["cross_twin_missed"]


def test_known_seed_failures_only_cover_listed_names():
    assert checks.is_known("corpus_dedup", ["null_text_verified"])
    assert not checks.is_known("corpus_dedup",
                               ["null_text_verified", "planted_pair_missed"])
    assert not checks.is_known("petro_notebook", ["null_text_verified"])


# ---------------------------------------------------------------------------
# metric names and BENCHMARK.json
# ---------------------------------------------------------------------------


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_emitted_metric_is_declared_with_its_unit():
    bm = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bm["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bm["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == run.per_layer_units()
    for name in list(e2e) + list(layer):
        assert NAME.match(name), name


def test_benchmark_json_shape():
    bm = _benchmark()
    assert set(bm) == {"command", "paths", "run_seconds", "workloads",
                       "end_to_end", "per_layer"}
    assert {w["name"] for w in bm["workloads"]} <= set(workloads.WORKLOADS)
    setup = [m for m in bm["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bm["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bm["end_to_end"])


# ---------------------------------------------------------------------------
# tracing arithmetic and the event log
# ---------------------------------------------------------------------------


def test_self_times_subtract_children():
    s = [spans.Span("op", 0.0, 10.0, None, 0, "g0"),
         spans.Span("frame.x", 1.0, 4.0, 0, 0, "g1"),
         spans.Span("sqlgen.apply", 2.0, 3.0, 1, 0, "g2"),
         spans.Span("exec:y", 5.0, 9.0, 0, 0, "g3")]
    st = spans.self_times(s)
    assert st == [3.0, 2.0, 1.0, 4.0]
    assert sum(st) == 10.0


@pytest.mark.parametrize("frame_end,bad", [(9.5, []),
                                             (4.0, ["trace_unattributed"])])
def test_unattributed_op_time_fails_the_traced_run(frame_end, bad):
    tr = spans.Tracer()
    tr.spans = [spans.Span("op", 0.0, 10.0, None, 0, "g0"),
                spans.Span("frame.x", 0.0, frame_end, 0, 0, "g1")]
    m, got = run.layer_metrics(tr, [10e3], 1, (1.0, 0.5), 1, {})
    assert m["share.unattributed"] == pytest.approx((10.0 - frame_end) / 10)
    assert got == bad


def test_rows_per_s_is_the_median_round():
    class Wl:
        ops_per_round = 2

    r = run.Run(Wl())
    # rounds of two ops: 20 rows / 1 s, 20 rows / 2 s (a slow spell),
    # 20 rows / 1 s; a failed op (index 6) leaves its round short
    r.op_ms = [500.0, 500.0, 1000.0, 1000.0, 400.0, 600.0, 250.0]
    r.op_rows = [(0, 10), (1, 10), (2, 10), (3, 10), (4, 10), (5, 10),
                 (7, 5)]
    assert run.rows_per_s(r) == 20.0


def test_tracer_nests_and_disabled_records_nothing():
    tr = spans.Tracer()
    with tr.span("op"):
        with tr.span("frame.end_members"):
            tr.count("n", 2)
    assert [s.parent for s in tr.spans] == [None, 0]
    assert tr.counts == {"n": 2}
    off = spans.Tracer(enabled=False)
    with off.span("op"):
        off.count("n", 1)
    assert off.spans == [] and off.counts == {}


def test_event_log_attributes_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "pb1-2",
                        "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "RDD Info": [
             {"Scope": json.dumps({"id": "1", "name": "MapInPandas"})}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 100, "Finish Time": 400},
         "Task Metrics": {"Executor Run Time": 250,
                          "Executor CPU Time": 2e8, "JVM GC Time": 10,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 64}}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": {"nodeName": "WholeStageCodegen (1)",
                           "children": [{"nodeName": "Exchange",
                                         "children": []}]}},
    ]
    d = tmp_path / "app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events))
    st = spans.parse_event_log(str(tmp_path))["pb1-2"]
    assert (st.jobs, st.tasks, st.shuffle_bytes) == (1, 1, 64)
    assert st.executor_cpu_s == pytest.approx(0.2)
    assert st.python_exec_s == pytest.approx(0.25)
    assert st.scheduler_wait_s == pytest.approx(0.05)
    assert (st.wscg_spans, st.exchanges) == (1, 1)


# ---------------------------------------------------------------------------
# running outside a checkout
# ---------------------------------------------------------------------------


def test_fails_without_the_program(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "petro_notebook", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
