"""Output checks: pure functions over collected (pandas) outputs.

Each check returns a list of failure names; an empty list means the
output is correct.  They take plain frames so the benchmark's tests can
feed them deliberately corrupted outputs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

#: FIXTURES.md §2 expected values: anchor id → (output key, expectations).
#: An expectation is ``(column, value, tolerance)`` or
#: ``("dominant", column, minimum)``.
ANCHORS = {
    "ANCHOR-diopside": ("cpx_apfu", [("Si{4+}", 2.0, 0.01),
                                     ("Mg{2+}", 1.0, 0.01),
                                     ("Ca{2+}", 1.0, 0.01)]),
    "ANCHOR-sanidine": ("fsp_apfu", [("Si{4+}", 3.0, 0.01),
                                     ("Al{3+}", 1.0, 0.01),
                                     ("K{+}", 1.0, 0.01)]),
    "ANCHOR-sanidine/em": ("fsp_em", [("Or", 100.0, 0.5)]),
    "ANCHOR-andradite": ("grtfe3_em", [("dominant", "Adr", 90.0)]),
    "ANCHOR-phlogopite": ("bt_em", [("dominant", "Phlogopite", 80.0)]),
    "ANCHOR-ilmenite": ("ilm_em", [("Ilm", 100.0, 0.5)]),
    "ANCHOR-titanite": ("ttn_em", [("dominant", "Ttn", 95.0)]),
}

#: checks whose failure is a known program defect at the benchmark's
#: first commit: the op still counts as failed (``failed``), but the
#: run stays ``correct`` so later changes can be compared on it.
KNOWN_SEED_FAILURES = {
    "corpus_dedup": ["null_text_verified"],
}


def anchor_failures(outputs: dict[str, pd.DataFrame]) -> list[str]:
    """Golden anchors hit their FIXTURES.md values.  ``outputs`` maps an
    output key to a frame indexed by ``Analysis_ID``."""
    bad = []
    for key, (out, exps) in ANCHORS.items():
        aid = key.split("/")[0]
        frame = outputs.get(out)
        if frame is None or aid not in frame.index:
            bad.append(f"anchor_missing:{key}")
            continue
        row = frame.loc[aid]
        for exp in exps:
            if exp[0] == "dominant":
                _, col, lo = exp
                num = row.drop(labels=[c for c in row.index
                                       if c == "Total"
                                       or not _is_number(row[c])])
                ok = (col in num.index and float(num[col]) >= lo
                      and num.astype(float).idxmax() == col)
            else:
                col, val, tol = exp
                ok = col in row.index and abs(float(row[col]) - val) <= tol
            if not ok:
                col = exp[1] if exp[0] == "dominant" else exp[0]
                bad.append(f"anchor:{key}:{col}")
    return bad


def _is_number(v) -> bool:
    return (isinstance(v, (int, float, np.floating, np.integer))
            and not isinstance(v, bool))


def end_member_sum_failures(df: pd.DataFrame, cols: list[str],
                            tol: float = 1e-6) -> list[str]:
    """Every row with a positive end-member total sums to 100."""
    if df.empty or not cols:
        return ["em_sum:empty"]
    s = df[cols].astype(float).sum(axis=1)
    live = s.abs() > 0
    if not live.any():
        return ["em_sum:all_zero"]
    return [] if ((s[live] - 100.0).abs() <= tol).all() else ["em_sum"]


def score_range_failures(df: pd.DataFrame, cols: list[str]) -> list[str]:
    """Stoichiometry scores lie in [0, 1]."""
    if df.empty or not cols:
        return ["score:empty"]
    v = df[cols].astype(float).to_numpy()
    v = v[~np.isnan(v)]
    return [] if ((v >= 0.0) & (v <= 1.0)).all() else ["score_range"]


def nonnegative_failures(df: pd.DataFrame, cols: list[str]) -> list[str]:
    """APFU and site allocations are non-negative."""
    if df.empty or not cols:
        return ["nonneg:empty"]
    v = df[cols].astype(float).to_numpy()
    return [] if (np.nan_to_num(v, nan=0.0) >= -1e-12).all() else ["negative"]


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def shingles3(text: str) -> set[str]:
    """Reference distinct 3-char shingle set, as the program defines it
    for non-NULL text (a text shorter than 3 characters is one shingle,
    the empty text is the empty shingle)."""
    n = max(len(text) - 2, 1)
    return {text[i:i + 3] for i in range(n)}


def jaccard3(a: str, b: str) -> float:
    sa, sb = shingles3(a), shingles3(b)
    return len(sa & sb) / len(sa | sb)


def verify_failures(pairs: pd.DataFrame, texts: dict[int, str | None],
                    clusters: list[list[int]],
                    threshold: float = 0.8) -> list[str]:
    """Jaccard-verify output: every planted near-dup pair at or above the
    threshold verifies, no verified pair falls below it, and no verified
    pair contains a NULL-text document."""
    bad = []
    got = set(zip(pairs["doc_a"].astype(int), pairs["doc_b"].astype(int)))
    for c in clusters:
        for i, a in enumerate(c):
            for b in c[i + 1:]:
                lo, hi = min(a, b), max(a, b)
                ta, tb = texts.get(lo), texts.get(hi)
                if ta is None or tb is None:
                    continue
                if jaccard3(ta, tb) >= threshold and (lo, hi) not in got:
                    bad.append("planted_pair_missed")
                    break
    null_hit = below = False
    for a, b in got:
        ta, tb = texts.get(a), texts.get(b)
        if ta is None or tb is None:
            null_hit = True
        elif jaccard3(ta, tb) < threshold - 1e-12:
            below = True
    if below:
        bad.append("verified_below_threshold")
    if null_hit:
        bad.append("null_text_verified")
    return sorted(set(bad))


def component_failures(comps: pd.DataFrame, edges: pd.DataFrame,
                       id_col: str, a_col: str, b_col: str,
                       n_nodes: int) -> list[str]:
    """Connected components: one row per node, both ends of every edge
    share a component, and a component is labelled by its minimum id."""
    bad = []
    if len(comps) != n_nodes:
        bad.append("components_rowcount")
    lab = dict(zip(comps[id_col].astype(int), comps["component"].astype(int)))
    for a, b in zip(edges[a_col].astype(int), edges[b_col].astype(int)):
        if lab.get(a) != lab.get(b):
            bad.append("edge_split")
            break
    mins = comps.groupby("component")[id_col].min()
    if not (mins.index.to_numpy() == mins.to_numpy()).all():
        bad.append("component_label")
    return bad


def cosine_failures(pairs: pd.DataFrame, vecs: dict[int, list[float]],
                    threshold: float) -> list[str]:
    """Every multi-probe pair's cosine, recomputed here in float64 from
    the stored float32 values, is at or above the threshold."""
    for a, b in zip(pairs["id_a"].astype(int), pairs["id_b"].astype(int)):
        va = np.asarray(vecs[a], dtype=np.float64)
        vb = np.asarray(vecs[b], dtype=np.float64)
        cos = float(va @ vb) / math.sqrt(float(va @ va) * float(vb @ vb))
        if cos < threshold - 1e-9:
            return ["cosine_below_threshold"]
    return []


def incremental_failures(pairs: pd.DataFrame,
                         twins: list[tuple[int, int]]) -> list[str]:
    """The incremental probe finds every planted cross-batch twin."""
    got = set(zip(pairs["doc_a"].astype(int), pairs["doc_b"].astype(int)))
    miss = [t for t in twins if (min(t), max(t)) not in got]
    return ["cross_twin_missed"] if miss else []


def unattributed_failures(share: float, ceiling: float) -> list[str]:
    """The traced op time that no layer span covers stays below
    *ceiling*: above it, the spans miss part of the program's work."""
    return [] if share <= ceiling else ["trace_unattributed"]


def is_known(workload: str, failures: list[str]) -> bool:
    """True when every failure is a listed known seed failure."""
    known = set(KNOWN_SEED_FAILURES.get(workload, []))
    return all(f in known for f in failures)
