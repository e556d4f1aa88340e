"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and its parameters: the
same seed gives byte-identical frames (pinned by ``test_perfbench.py``).
The program under test receives only these generated inputs (written as
parquet by ``run.py``); nothing here imports the package.

``PARAMS`` holds every generator parameter with a one-line reason; it is
mirrored into ``spec.json`` next to this file, so a result can be read
together with the inputs that produced it.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

OXIDES = ["SiO2", "TiO2", "Al2O3", "Cr2O3", "Fe2O3", "FeO", "MnO", "MgO",
          "CaO", "Na2O", "K2O", "ZnO", "F", "Cl"]

#: (Mineral label, Subgroup, prototype wt% analysis).  Envelopes follow
#: FIXTURES.md §1 (the reference's conftest compositions).
PROTOTYPES = {
    "Garnet": ("Pelitic Schist", {
        "SiO2": 37.1, "TiO2": 0.05, "Al2O3": 21.3, "Cr2O3": 0.02,
        "Fe2O3": 0.2, "FeO": 30.0, "MnO": 4.0, "MgO": 4.0, "CaO": 3.0,
        "Na2O": 0.01, "K2O": 0.01}),
    "Clinopyroxene": ("Metabasite", {
        "SiO2": 52.0, "TiO2": 0.5, "Al2O3": 4.5, "Cr2O3": 0.1,
        "Fe2O3": 1.0, "FeO": 7.5, "MnO": 0.15, "MgO": 15.0, "CaO": 18.5,
        "Na2O": 1.5}),
    "Amphibole": ("Amphibolite", {
        "SiO2": 43.0, "TiO2": 1.5, "Al2O3": 11.0, "Cr2O3": 0.1,
        "FeO": 12.0, "MnO": 0.2, "MgO": 13.0, "CaO": 11.5, "Na2O": 1.5,
        "K2O": 0.8, "F": 0.1, "Cl": 0.05}),
    "Plagioclase": ("Granodiorite", {
        "SiO2": 59.0, "Al2O3": 25.5, "FeO": 0.1, "CaO": 7.3,
        "Na2O": 7.4, "K2O": 0.3}),
    "K-feldspar": ("Granite", {
        "SiO2": 64.5, "Al2O3": 18.5, "FeO": 0.05, "CaO": 0.1,
        "Na2O": 1.0, "K2O": 15.2}),
    "Biotite": ("Pelitic Schist", {
        "SiO2": 36.0, "TiO2": 3.0, "Al2O3": 16.0, "FeO": 18.0,
        "MnO": 0.2, "MgO": 11.0, "Na2O": 0.1, "K2O": 9.8, "F": 0.3,
        "Cl": 0.05}),
    "Ilmenite": ("Metabasite", {
        "TiO2": 51.0, "FeO": 44.0, "MnO": 2.0, "MgO": 1.5,
        "Fe2O3": 1.0}),
    "Titanite": ("Metabasite", {
        "SiO2": 30.2, "TiO2": 37.5, "Al2O3": 2.0, "Fe2O3": 0.8,
        "CaO": 28.4}),
}

#: FIXTURES.md §2 golden-anchor rows, verbatim (host mineral label,
#: composition).  Expected values live in ``checks.ANCHORS``.
ANCHOR_ROWS = {
    "ANCHOR-diopside": ("Clinopyroxene", {
        "SiO2": 55.49, "MgO": 18.61, "CaO": 25.90}),
    "ANCHOR-sanidine": ("K-feldspar", {
        "SiO2": 64.76, "Al2O3": 18.31, "K2O": 16.89}),
    "ANCHOR-andradite": ("Garnet", {
        "SiO2": 36.0, "FeO": 27.9, "CaO": 33.0}),
    "ANCHOR-phlogopite": ("Biotite", {
        "SiO2": 42.7, "Al2O3": 11.7, "FeO": 0.5, "MgO": 29.1,
        "K2O": 10.7, "TiO2": 0.2, "MnO": 0.05, "Na2O": 0.1}),
    "ANCHOR-ilmenite": ("Ilmenite", {"TiO2": 52.66, "FeO": 47.34}),
    "ANCHOR-titanite": ("Titanite", {
        "SiO2": 30.48, "TiO2": 40.83, "CaO": 28.69}),
}

BULK_OXIDES = ["SiO2", "TiO2", "Al2O3", "FeO", "Fe2O3", "MnO", "MgO",
               "CaO", "Na2O", "K2O", "P2O5", "CO2", "F", "S", "H2O_PLUS"]

#: bulk-rock prototypes (FIXTURES.md §3 anchor rocks)
BULK_PROTOTYPES = {
    "granite": {"SiO2": 72.0, "TiO2": 0.3, "Al2O3": 14.0, "FeO": 1.5,
                "Fe2O3": 0.8, "MnO": 0.05, "MgO": 0.5, "CaO": 1.5,
                "Na2O": 3.5, "K2O": 4.5, "P2O5": 0.1, "H2O_PLUS": 0.6},
    "basalt": {"SiO2": 49.5, "TiO2": 1.5, "Al2O3": 15.5, "FeO": 8.0,
               "Fe2O3": 2.5, "MnO": 0.18, "MgO": 7.5, "CaO": 10.5,
               "Na2O": 2.6, "K2O": 0.6, "P2O5": 0.2, "H2O_PLUS": 0.9},
    "diorite": {"SiO2": 58.0, "TiO2": 0.7, "Al2O3": 16.8, "FeO": 5.3,
                "Fe2O3": 1.8, "MnO": 0.15, "MgO": 3.4, "CaO": 7.5,
                "Na2O": 2.9, "K2O": 2.1, "P2O5": 0.2, "CO2": 0.1,
                "H2O_PLUS": 1.1},
}

PARAMS = {
    "petro_batch": {
        "n_analyses": [300_000, "meant to let execution dominate each "
                       "drained call; on a 4-vCPU host a warm pass took "
                       "~3.5 s against ~2.8 s for the same pass over 2,000 "
                       "analyses, so driver planning still takes most of it"],
        "mineral_mix": [{"Garnet": 0.26, "Clinopyroxene": 0.18,
                         "Amphibole": 0.18, "Plagioclase": 0.1,
                         "K-feldspar": 0.08, "Biotite": 0.18,
                         "Ilmenite": 0.01, "Titanite": 0.01},
                        "mostly the five main EMPA groups, as in a "
                        "metamorphic-petrology campaign"],
        "rel_noise": [0.04, "per-oxide multiplicative scatter typical of "
                      "natural zoning plus analytical error"],
        "n_bulk": [60_000, "enough bulk rows that the CIPW Arrow stage "
                   "runs at full partition parallelism"],
        "anchors": [sorted(ANCHOR_ROWS), "FIXTURES.md section 2 rows whose "
                    "outputs are analytically known"],
    },
    "petro_notebook": {
        "tables": [["minerals", "sazava", "grt_profile"],
                   "the bundled tables a notebook user starts from"],
        "mix": ["seeded permutation of the 14 call kinds",
                "every round of the loop runs each call kind once, so every "
                "run sees the same call composition in a seeded order"],
        "pasted_rows": [8, "the smallest pasted-analyses call (ingest + "
                        "garnet end-members) that gives incremental_p50_ms, "
                        "which every workload must emit, a sample; it runs "
                        "twice per round of the mix, so the run's median "
                        "has twice the samples of once per round for about "
                        "5% of the loop time"],
    },
    "corpus_dedup": {
        "n_docs": [200, "the chain's cost here is per-stage floors, not "
                   "per-document work (a steady op took about 12 s at 100 "
                   "documents, 14 s at 200 and 18 s at 400 on a 4-vCPU "
                   "host), so a small batch keeps each op short"],
        "words": [[90, 150], "documents of ~600-1000 characters, longer "
                  "than the 400-char LSH prefix"],
        "dup_share": [0.2, "share of documents in planted near-dup "
                      "clusters (crawl-like duplication)"],
        "span_pairs": [20, "unrelated document pairs sharing one pasted "
                       "passage, for the span tier"],
        "dirty_share": [{"null": 0.01, "empty": 0.005, "whitespace": 0.005},
                        "real crawls carry a small share of NULL, empty "
                        "and whitespace-only text"],
        "dim": [32, "embedding width; twins are base vectors plus small "
                "noise"],
        "twin_share": [0.1, "share of vectors that are planted twins"],
        "n_next": [120, "the next ingestion batch probed against the "
                   "signature store"],
        "cross_twins": [12, "next-batch documents that copy a stored "
                        "document's first 400 characters"],
    },
}


def _p(workload: str, name: str):
    return PARAMS[workload][name][0]


# ---------------------------------------------------------------------------
# petro_batch
# ---------------------------------------------------------------------------


def _empa_row_block(rng, label: str, n: int, noise: float) -> pd.DataFrame:
    subgroup, proto = PROTOTYPES[label]
    base = np.array([proto.get(o, 0.0) for o in OXIDES])
    vals = base * (1.0 + noise * rng.standard_normal((n, len(OXIDES))))
    vals = np.round(np.clip(vals, 0.0, None), 3)
    df = pd.DataFrame(vals, columns=OXIDES)
    df.insert(0, "Subgroup", subgroup)
    df.insert(0, "Mineral", label)
    return df


def empa_table(seed: int, n: int | None = None) -> pd.DataFrame:
    """Seeded EMPA analyses table (FIXTURES.md §1 schema) with the six
    golden-anchor rows planted at seeded positions."""
    n = n or _p("petro_batch", "n_analyses")
    mix = _p("petro_batch", "mineral_mix")
    noise = _p("petro_batch", "rel_noise")
    rng = np.random.default_rng([seed, 1])
    labels = list(mix)
    counts = rng.multinomial(n, [mix[k] for k in labels])
    blocks = [_empa_row_block(rng, lab, int(c), noise)
              for lab, c in zip(labels, counts)]
    df = pd.concat(blocks, ignore_index=True)
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    df.insert(0, "Analysis_ID",
              [f"EMPA-{seed}-{i:07d}" for i in range(len(df))])
    anchors = anchor_table()
    at = rng.choice(len(df) + 1, size=len(anchors), replace=False)
    parts, prev = [], 0
    for pos, k in sorted(zip(at, range(len(anchors)))):
        parts += [df.iloc[prev:pos], anchors.iloc[[k]]]
        prev = pos
    parts.append(df.iloc[prev:])
    df = pd.concat(parts, ignore_index=True)
    df["Total"] = df[OXIDES].sum(axis=1).round(3)
    df["Rock_Type"] = df["Subgroup"]
    df["Source"] = f"perfbench seed {seed}"
    return df


def anchor_table() -> pd.DataFrame:
    """The FIXTURES.md §2 golden-anchor rows as an analyses table."""
    rows = []
    for aid, (label, comp) in ANCHOR_ROWS.items():
        row = {"Analysis_ID": aid, "Mineral": label, "Subgroup": "Anchor"}
        row.update({o: float(comp.get(o, 0.0)) for o in OXIDES})
        rows.append(row)
    return pd.DataFrame(rows)


def pasted_garnets(seed: int, n: int | None = None) -> pd.DataFrame:
    """A handful of new garnet analyses a notebook user pastes in."""
    n = n or _p("petro_notebook", "pasted_rows")
    rng = np.random.default_rng([seed, 6])
    df = _empa_row_block(rng, "Garnet", n, _p("petro_batch", "rel_noise"))
    df.insert(0, "Analysis_ID", [f"NEW-{seed}-{i}" for i in range(n)])
    return df


def bulk_table(seed: int, n: int | None = None) -> pd.DataFrame:
    """Seeded bulk-rock analyses (FIXTURES.md §3 schema, ``H2O_PLUS``
    alias header included)."""
    n = n or _p("petro_batch", "n_bulk")
    noise = _p("petro_batch", "rel_noise")
    rng = np.random.default_rng([seed, 2])
    kinds = list(BULK_PROTOTYPES)
    kind = rng.integers(0, len(kinds), n)
    base = np.array([[BULK_PROTOTYPES[k].get(o, 0.0) for o in BULK_OXIDES]
                     for k in kinds])[kind]
    vals = base * (1.0 + noise * rng.standard_normal(base.shape))
    df = pd.DataFrame(np.round(np.clip(vals, 0.0, None), 3),
                      columns=BULK_OXIDES)
    df.insert(0, "Petrology", [kinds[k] for k in kind])
    df.insert(0, "Sample", [f"BULK-{seed}-{i:06d}" for i in range(n)])
    return df


# ---------------------------------------------------------------------------
# petro_notebook
# ---------------------------------------------------------------------------

#: the calls a notebook user cycles through: (table, call, mineral-or-spec)
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
    ("sazava", "cipw_norm", None),
]


def notebook_mix(seed: int) -> list[tuple[str, str, str | None]]:
    """One round of notebook calls: every call kind once, in a seeded
    order."""
    rng = np.random.default_rng([seed, 3])
    return [NOTEBOOK_CALLS[i] for i in rng.permutation(len(NOTEBOOK_CALLS))]


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
              "qu", "be", "do", "fi", "gu", "ha", "ji", "xo", "we", "yu"]


def _vocabulary(rng, size: int = 4000) -> list[str]:
    syl = np.array(_SYLLABLES)
    lens = rng.integers(2, 5, size)
    return ["".join(syl[rng.integers(0, len(syl), k)]) for k in lens]


def _doc(rng, vocab: list[str]) -> str:
    lo, hi = _p("corpus_dedup", "words")
    k = int(rng.integers(lo, hi + 1))
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), k))


def _tail_edit(rng, text: str, vocab: list[str]) -> str:
    """Near-duplicate of *text*: one word replaced and one appended, both
    after character 420, so the LSH prefix (400 chars) is untouched and
    the pair is a guaranteed candidate; the full-text 3-shingle Jaccard
    stays well above 0.8 for these document lengths."""
    head, tail = text[:420], text[420:].split(" ")
    if len(tail) > 2:
        word = vocab[int(rng.integers(0, len(vocab)))]
        tail[int(rng.integers(1, len(tail)))] = word
    tail.append(vocab[int(rng.integers(0, len(vocab)))])
    return head + " ".join(tail)


def corpus_batch(seed: int, op: int, n: int | None = None) -> dict:
    """One fresh corpus op input: documents, embeddings, the next
    ingestion batch, and the planted ground truth the checks use.

    ``doc_id``s are offset by the op index so no two ops share ids (the
    program's text-stats memo and Spark caches cannot carry over)."""
    n = n or _p("corpus_dedup", "n_docs")
    rng = np.random.default_rng([seed, 4, op + 1])
    vocab = _vocabulary(np.random.default_rng([seed, 5]))
    base_id = (op + 2) * 1_000_000
    texts: list[str | None] = [_doc(rng, vocab) for _ in range(n)]

    # planted near-dup clusters: members overwrite slots after the base
    n_dup = int(n * _p("corpus_dedup", "dup_share"))
    slots = rng.permutation(n)
    clusters: list[list[int]] = []
    i = 0
    while i < n_dup:
        size = int(rng.integers(2, 5))
        members = [int(s) for s in slots[i:i + size]]
        i += size
        if len(members) < 2:
            break
        for m in members[1:]:
            texts[m] = _tail_edit(rng, texts[members[0]], vocab)
        clusters.append(members)
    used = {m for c in clusters for m in c}
    free = [int(s) for s in slots if int(s) not in used]

    # shared spans: a 150-char passage pasted at the start of two
    # otherwise unrelated documents
    for _ in range(_p("corpus_dedup", "span_pairs")):
        a, b = free.pop(), free.pop()
        passage = _doc(rng, vocab)[:150]
        texts[a] = passage + " " + texts[a]
        texts[b] = passage + " " + texts[b]

    # dirty rows
    dirty = _p("corpus_dedup", "dirty_share")
    for kind, share in dirty.items():
        for _ in range(max(2, int(round(n * share)))):
            s = free.pop()
            if kind == "null":
                texts[s] = None
            elif kind == "empty":
                texts[s] = ""
            else:
                texts[s] = " " * int(rng.integers(1, 6))

    docs = pd.DataFrame({
        "doc_id": np.arange(base_id, base_id + n, dtype=np.int64),
        "text": pd.Series(texts, dtype=object),
    })

    # embeddings: random unit-ish vectors plus planted twins
    dim = _p("corpus_dedup", "dim")
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    n_tw = int(n * _p("corpus_dedup", "twin_share")) // 2
    tw = rng.permutation(n)[:2 * n_tw].reshape(-1, 2)
    for a, b in tw:
        noise = rng.standard_normal(dim).astype(np.float32)
        vecs[b] = vecs[a] + np.float32(0.01) * noise
    emb = pd.DataFrame({
        "vec_id": np.arange(base_id, base_id + n, dtype=np.int64),
        "embedding": [v.tolist() for v in vecs],
    })

    # next ingestion batch: fresh docs plus cross-batch twins
    n_next = _p("corpus_dedup", "n_next")
    nxt: list[str | None] = [_doc(rng, vocab) for _ in range(n_next)]
    live = [k for k in range(n) if texts[k] and texts[k].strip()
            and len(texts[k]) > 420]
    cross = []
    n_cross = _p("corpus_dedup", "cross_twins")
    for j, src in enumerate(rng.choice(len(live), n_cross, replace=False)):
        k = live[int(src)]
        nxt[j] = _tail_edit(rng, texts[k], vocab)
        cross.append((base_id + k, base_id + 500_000 + j))
    nxt_df = pd.DataFrame({
        "doc_id": np.arange(base_id + 500_000, base_id + 500_000 + n_next,
                            dtype=np.int64),
        "text": pd.Series(nxt, dtype=object),
    })
    return {
        "docs": docs,
        "embeddings": emb,
        "next": nxt_df,
        "clusters": [[base_id + m for m in c] for c in clusters],
        "cross_twins": cross,
    }


def digest(*frames: pd.DataFrame) -> str:
    """Stable content digest of generated frames (used by the
    determinism test and printed with every result)."""
    h = hashlib.sha256()
    for f in frames:
        h.update(",".join(f.columns).encode())
        h.update(pd.util.hash_pandas_object(
            f.astype({c: str for c in f.columns if f[c].dtype == object}),
            index=True).to_numpy().tobytes())
    return h.hexdigest()[:16]
