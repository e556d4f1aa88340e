"""The three workloads: inputs, one op, the small follow-up op, checks.

A workload object is created once per run.  ``prepare`` writes its
generated inputs (no Spark); ``load`` binds them to a session; ``stage``
generates and writes what the next op reads, before that op's timer
starts; ``op`` runs one closed-loop operation and returns what the
checks need; ``follow_up`` runs the small fresh-batch operation timed as
``incremental_p50_ms``; ``check`` turns one op's collected outputs into
failure names and ``final_check`` does the same once per run.  Every
call into the program is wrapped in a span of the run's ``Tracer`` (a
no-op when tracing is off).
"""

from __future__ import annotations

import os

import gen
import checks

def anchor_failures(pf) -> list[str]:
    """Run the anchor calls on the FIXTURES.md §2 rows of an ingested
    PetroFrame and check them against their expected values."""
    from petropandas_spark import minerals, minerals_ext

    anchors = pf.select_rows(list(gen.ANCHOR_ROWS), on="Analysis_ID")
    fsp = ["Plagioclase", "K-feldspar"]
    calls = {
        "cpx_apfu": ("Clinopyroxene", "mineral_apfu",
                     minerals.CLINOPYROXENE),
        "fsp_apfu": (fsp, "mineral_apfu", minerals.FELDSPAR),
        "fsp_em": (fsp, "end_members", minerals.FELDSPAR),
        "grtfe3_em": ("Garnet", "end_members", minerals_ext.GARNETFE3),
        "bt_em": ("Biotite", "end_members", minerals_ext.BIOTITE),
        "ilm_em": ("Ilmenite", "end_members", minerals_ext.ILMENITE),
        "ttn_em": ("Titanite", "end_members", minerals_ext.TITANITE),
    }
    outs = {}
    for key, (rows, call, mineral) in calls.items():
        sel = anchors.select_rows(rows, on="Mineral")
        outs[key] = (getattr(sel, call)(mineral).df.toPandas()
                     .set_index("Analysis_ID"))
    return checks.anchor_failures(outs)


# Spans named ``exec:<layer>`` drain a call's output; ``prefix:<layer>``
# drains the same chain without that call (traced runs only).  A
# layer's execution time is the difference (see run.layer_metrics).


def drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _plan_counts(tr, df) -> None:
    """Force physical planning before the action (traced runs).  Codegen
    spans and exchanges are counted from the event log's final plans."""
    with tr.span("catalyst.optimize"):
        df._jdf.queryExecution().executedPlan()


def _write_parts(pdf, path: str, parts: int) -> None:
    """Write a frame as *parts* parquet files, like an export that lands
    in chunks; pyarrow writes no timestamps, so bytes depend on the
    content only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(pdf) // parts)
    for k in range(parts):
        chunk = pdf.iloc[k * step:(k + 1) * step]
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       os.path.join(path, f"part-{k:03d}.parquet"))


# ---------------------------------------------------------------------------
# petro_batch
# ---------------------------------------------------------------------------


class PetroBatch:
    """One op = one full PetroFrame pass over the seeded EMPA table and
    bulk-rock table, every output drained to the noop sink."""

    name = "petro_batch"
    ops_per_round = 1
    #: one untimed full pass: after a warm-up over the small batch only,
    #: the first timed pass still took ~1.4x the later ones
    warm_ops = 1
    trace_min_ops = 1
    follow_every = 1
    warm_follow_every = 1
    #: (rows selected on Mineral, config, PetroFrame call, layer)
    CALLS = [
        ("Garnet", "GARNET", "end_members", "minerals.end_members"),
        ("Garnet", "g", "phase_end_members", "hpxeos.phase_end_members"),
        ("Clinopyroxene", "CLINOPYROXENE", "mineral_apfu", "minerals.apfu"),
        ("Amphibole", "AMPHIBOLE", "end_members", "minerals_ext.end_members"),
        (["Plagioclase", "K-feldspar"], "FELDSPAR", "check_stoichiometry",
         "minerals.stoichiometry"),
        ("Biotite", "BIOTITE", "site_allocations", "minerals.site_allocation"),
    ]
    FOLLOW_UP_ROWS = 2000

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed, self.work, self.cpus = seed, work, cpus

    def prepare(self) -> str:
        empa = gen.empa_table(self.seed)
        bulk = gen.bulk_table(self.seed)
        self.n_rows, self.n_bulk = len(empa) + len(bulk), len(bulk)
        _write_parts(empa, os.path.join(self.work, "empa"), self.cpus)
        _write_parts(bulk, os.path.join(self.work, "bulk"), self.cpus)
        small = gen.empa_table(self.seed + 7919, self.FOLLOW_UP_ROWS)
        small_bulk = gen.bulk_table(self.seed + 7919,
                                    self.FOLLOW_UP_ROWS // 10)
        _write_parts(small, os.path.join(self.work, "empa_new"), 1)
        _write_parts(small_bulk, os.path.join(self.work, "bulk_new"), 1)
        return gen.digest(empa, bulk, small, small_bulk)

    def load(self, spark) -> None:
        from petropandas_spark import minerals, minerals_ext
        from petropandas_spark.hpxeos.metapelite import PHASES

        self.cfg = {"GARNET": minerals.GARNET, "g": PHASES["g"],
                    "CLINOPYROXENE": minerals.CLINOPYROXENE,
                    "AMPHIBOLE": minerals_ext.AMPHIBOLE,
                    "FELDSPAR": minerals.FELDSPAR,
                    "BIOTITE": minerals_ext.BIOTITE}
        read = spark.read.parquet
        self.empa = read(os.path.join(self.work, "empa")).cache()
        self.bulk = read(os.path.join(self.work, "bulk")).cache()
        self.empa.count()
        self.bulk.count()
        self.empa_new = read(os.path.join(self.work, "empa_new"))
        self.bulk_new = read(os.path.join(self.work, "bulk_new"))

    def _pass(self, tr, empa, bulk, n_bulk: int, attribute: bool) -> dict:
        from petropandas_spark.frame import PetroFrame

        with tr.span("frame.ingest"):
            pf = PetroFrame.ingest(empa)
        outs = {}
        for rows, cfg, call, layer in self.CALLS:
            with tr.span("frame.select_rows"):
                sel = pf.select_rows(rows, on="Mineral")
            with tr.span(f"frame.{call}"):
                out = getattr(sel, call)(self.cfg[cfg])
            if attribute:
                _plan_counts(tr, out.df)
            with tr.span(f"exec:{layer}"):
                drain(out.df)
            if attribute:
                with tr.span(f"prefix:{layer}"):
                    drain(sel.df)
            outs[layer] = out
        with tr.span("frame.ingest"):
            pb = PetroFrame.ingest(bulk)
        with tr.span("frame.cipw_norm"):
            norm = pb.cipw_norm()
        if attribute:
            _plan_counts(tr, norm.df)
        with tr.span("exec:cipw.norm"):
            drain(norm.df)
        if attribute:
            with tr.span("prefix:cipw.norm"):
                drain(pb.df)
        outs["cipw.norm"] = norm
        outs["pf"] = pf
        outs["n_bulk"] = n_bulk
        outs["meta"] = set(pf.meta_cols)
        outs["rows"] = self.n_rows
        return outs

    def stage(self, i: int) -> None:
        """Nothing to generate: every op reads the same cached table."""

    def op(self, tr, i: int, attribute: bool) -> dict:
        return self._pass(tr, self.empa, self.bulk, self.n_bulk, attribute)

    def follow_up(self, tr, i: int) -> dict:
        return self._pass(tr, self.empa_new, self.bulk_new,
                          self.FOLLOW_UP_ROWS // 10, False)

    def check(self, outs: dict) -> list[str]:
        return []

    def final_check(self, outs: dict) -> list[str]:
        """Once per run on the last op's outputs: the input table is the
        same for every op, so the outputs are too."""
        bad = anchor_failures(outs["pf"])
        grt = outs["minerals.end_members"].df.toPandas()
        bad += checks.end_member_sum_failures(grt, _numeric(grt, outs["meta"]))
        hpx = outs["hpxeos.phase_end_members"].df.toPandas()
        bad += checks.end_member_sum_failures(hpx, _numeric(hpx, outs["meta"]))
        sto = outs["minerals.stoichiometry"].df.toPandas()
        bad += checks.score_range_failures(sto, _numeric(sto, outs["meta"]))
        apfu = outs["minerals.apfu"].df.toPandas()
        bad += checks.nonnegative_failures(apfu, _numeric(apfu, outs["meta"]))
        norm = outs["cipw.norm"].df.toPandas()
        if len(norm) != outs["n_bulk"] or norm["Total"].isna().any():
            bad.append("cipw_rows")
        return bad


def _numeric(pdf, meta) -> list[str]:
    """The call's output columns: numeric and not carried from input."""
    return [c for c in pdf.columns if c not in meta
            and pdf[c].dtype.kind == "f"]


# ---------------------------------------------------------------------------
# petro_notebook
# ---------------------------------------------------------------------------


class PetroNotebook:
    """A notebook user's loop: one op = one PetroFrame call on a bundled
    table, collected with ``toPandas()``."""

    name = "petro_notebook"
    #: warm-up runs two rounds of the mix: from a cold JVM the first
    #: round took about 2.2x and the second about 1.2x the time of the
    #: later rounds, which were level
    warm_ops = 2 * len(gen.NOTEBOOK_CALLS)
    #: the pasted-analyses call runs rarely in the timed loop, and its
    #: latency kept falling over its first half-dozen calls, so the
    #: warm-up runs it after every other op
    warm_follow_every = 2
    #: a traced run covers every call kind (the mix starts with a
    #: permutation of all of them)
    trace_min_ops = len(gen.NOTEBOOK_CALLS)
    #: the loop stops only after whole rounds of the mix
    ops_per_round = len(gen.NOTEBOOK_CALLS)
    #: two pasted-analyses calls per round of the mix (see gen.PARAMS)
    follow_every = ops_per_round // 2
    MINERAL_ROWS = {"Garnet": "Garnet", "Clinopyroxene": "Clinopyroxene",
                    "Amphibole": "Amphibole", "Biotite": "Biotite",
                    "Feldspar": ["Plagioclase", "K-feldspar"]}

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed, self.work, self.cpus = seed, work, cpus

    def prepare(self) -> str:
        import pandas as pd

        self.mix = gen.notebook_mix(self.seed)
        self.pasted = gen.pasted_garnets(self.seed)
        return gen.digest(pd.DataFrame(self.mix, columns=["t", "c", "m"]),
                          self.pasted)

    def load(self, spark) -> None:
        from petropandas_spark import datasets, minerals, minerals_ext
        from petropandas_spark.hpxeos.metapelite import PHASES

        self.spark = spark
        self.tables = {n: datasets.load_petro(spark, n)
                       for n in ("minerals", "sazava", "grt_profile")}
        self.cfg = {"Garnet": minerals.GARNET,
                    "Clinopyroxene": minerals.CLINOPYROXENE,
                    "Amphibole": minerals_ext.AMPHIBOLE,
                    "Biotite": minerals_ext.BIOTITE,
                    "Feldspar": minerals.FELDSPAR, "g": PHASES["g"]}

    def stage(self, i: int) -> None:
        """Nothing to generate: the calls read the bundled tables."""

    def op(self, tr, i: int, attribute: bool) -> dict:
        table, call, what = (gen.NOTEBOOK_CALLS[(-1 - i) % self.ops_per_round]
                             if i < 0 else self.mix[i % len(self.mix)])
        pf = self.tables[table]
        if table == "minerals":
            with tr.span("frame.select_rows"):
                pf = pf.select_rows(self.MINERAL_ROWS.get(what, "Garnet"),
                                    on="Mineral")
        with tr.span(f"frame.{call}"):
            out = (pf.cipw_norm() if call == "cipw_norm"
                   else getattr(pf, call)(self.cfg[what]))
        if attribute:
            _plan_counts(tr, out.df)
        with tr.span(f"exec:{_notebook_layer(call, what)}"):
            pdf = out.df.toPandas()
        return {"call": call, "what": what, "pdf": pdf, "rows": len(pdf),
                "meta": set(pf.meta_cols)}

    def follow_up(self, tr, i: int) -> dict:
        from petropandas_spark.frame import PetroFrame

        with tr.span("frame.ingest"):
            pf = PetroFrame.ingest(self.spark.createDataFrame(self.pasted))
        with tr.span("frame.end_members"):
            out = pf.end_members(self.cfg["Garnet"])
        with tr.span("exec:minerals.end_members"):
            pdf = out.df.toPandas()
        return {"pasted": checks.end_member_sum_failures(
            pdf, _numeric(pdf, set(pf.meta_cols)))}

    def check(self, res: dict) -> list[str]:
        return res.get("pasted", []) + self._check_call(res)

    def final_check(self, res: dict) -> list[str]:
        """Once per run: the user pastes the FIXTURES.md anchor analyses
        and checks their recalculation."""
        from petropandas_spark.frame import PetroFrame

        return anchor_failures(PetroFrame.ingest(
            self.spark.createDataFrame(gen.anchor_table())))

    def _check_call(self, res: dict) -> list[str]:
        pdf, call, what = res["pdf"], res["call"], res["what"]
        num = _numeric(pdf, res["meta"])
        if call == "end_members" and what in ("Garnet", "Clinopyroxene"):
            return checks.end_member_sum_failures(pdf, num)
        if call == "phase_end_members":
            return checks.end_member_sum_failures(pdf, num)
        if call == "check_stoichiometry":
            return checks.score_range_failures(pdf, num)
        if call in ("mineral_apfu", "site_allocations"):
            return checks.nonnegative_failures(pdf, num)
        if call == "cipw_norm":
            ok = len(pdf) and not pdf["Total"].isna().any()
            return [] if ok else ["cipw_rows"]
        return [] if len(pdf) else ["empty"]


def _notebook_layer(call: str, what: str | None) -> str:
    if call == "cipw_norm":
        return "cipw.norm"
    if call == "phase_end_members":
        return "hpxeos.phase_end_members"
    if call == "end_members":
        return ("minerals_ext.end_members" if what in ("Amphibole", "Biotite")
                else "minerals.end_members")
    return {"mineral_apfu": "minerals.apfu",
            "site_allocations": "minerals.site_allocation",
            "check_stoichiometry": "minerals.stoichiometry"}[call]


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup:
    """One op = the near-dup curation chain over a fresh seeded corpus;
    the follow-up writes its signature store and probes the next batch
    against it."""

    name = "corpus_dedup"
    ops_per_round = 1
    warm_ops = 1
    trace_min_ops = 1
    follow_every = 1
    warm_follow_every = 1
    JACCARD = 0.8
    COSINE = 0.9

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed, self.work, self.cpus = seed, work, cpus
        self.batches: dict[int, dict] = {}
        self.calls = -1

    def prepare(self) -> str:
        b = self._batch(0)
        return gen.digest(b["docs"], b["embeddings"], b["next"])

    def _batch(self, i: int) -> dict:
        if i not in self.batches:
            b = gen.corpus_batch(self.seed, i)
            d = os.path.join(self.work, f"op{i}")
            for key in ("docs", "embeddings", "next"):
                _write_parts(b[key], os.path.join(d, key), 1)
            b["dir"] = d
            self.batches = {i: b}
        return self.batches[i]

    def load(self, spark) -> None:
        self.spark = spark

    def _frames(self, k: int):
        b = self._batch(k)
        read = self.spark.read.parquet
        return (b, read(os.path.join(b["dir"], "docs")),
                read(os.path.join(b["dir"], "embeddings")))

    def stage(self, i: int) -> None:
        """Generate and write a fresh batch for the next op call (a traced
        op never reuses the batch of the untraced op before it)."""
        self.calls += 1
        self._batch(self.calls)

    def op(self, tr, i: int, attribute: bool) -> dict:
        from petropandas_spark.pipeline import dedup, similarity

        b, docs, emb = self._frames(self.calls)
        with tr.span("dedup.lsh_candidates"):
            cand = dedup.lsh_candidate_pairs_portable(docs)
            if attribute:
                _plan_counts(tr, cand)
            cand = cand.localCheckpoint()
        if attribute:
            tr.count("dedup.candidate_pairs", cand.count())
        with tr.span("dedup.jaccard_verify"):
            ver = dedup.jaccard_verify(docs, cand, threshold=self.JACCARD)
            if attribute:
                _plan_counts(tr, ver)
            ver = ver.localCheckpoint()
            ver_pdf = ver.toPandas()
        with tr.span("dedup.connected_components"):
            comps = dedup.connected_components(docs.select("doc_id"), ver)
            comps_pdf = comps.toPandas()
        with tr.span("dedup.span_removal"):
            spans = dedup.remove_longest_shared_span(docs)
            if attribute:
                _plan_counts(tr, spans)
            drain(spans)
        with tr.span("similarity.multiprobe"):
            mp = similarity.multiprobe_cell_pairs(emb, threshold=self.COSINE)
            if attribute:
                _plan_counts(tr, mp)
            mp = mp.localCheckpoint()
            mp_pdf = mp.toPandas()
        if attribute:
            with tr.span("prefix:similarity.candidates"):
                tr.count("similarity.candidate_pairs",
                         similarity.multiprobe_cell_pairs(
                             emb, threshold=-1.0).count())
        with tr.span("dedup.connected_components"):
            vcomps = dedup.connected_components(
                emb.select("vec_id"), mp, id_col="vec_id",
                a_col="id_a", b_col="id_b")
            vcomps_pdf = vcomps.toPandas()
        tr.count("dedup.verified_pairs", len(ver_pdf))
        tr.count("dedup.components", comps_pdf["component"].nunique())
        tr.count("similarity.verified_pairs", len(mp_pdf))
        return {"k": self.calls, "rows": len(b["docs"]), "ver": ver_pdf,
                "comps": comps_pdf, "mp": mp_pdf, "vcomps": vcomps_pdf}

    def follow_up(self, tr, i: int) -> dict:
        from petropandas_spark.pipeline import dedup

        b, docs, _ = self._frames(self.calls)
        store = os.path.join(b["dir"], "store")
        nxt = self.spark.read.parquet(os.path.join(b["dir"], "next"))
        with tr.span("dedup.store_write"):
            dedup.write_signature_store(
                dedup.minhash_signatures_portable(docs), store)
        with tr.span("dedup.incremental"):
            inc = dedup.lsh_incremental_pairs(
                dedup.read_signature_store(self.spark, store), nxt).toPandas()
        tr.count("dedup.incremental_candidates", len(inc))
        return {"inc": inc}

    def check(self, res: dict) -> list[str]:
        b = self._batch(res["k"])
        docs, emb = b["docs"], b["embeddings"]
        texts = dict(zip(docs["doc_id"].astype(int), docs["text"]))
        bad = checks.verify_failures(res["ver"], texts, b["clusters"],
                                     self.JACCARD)
        bad += checks.component_failures(res["comps"], res["ver"], "doc_id",
                                         "doc_a", "doc_b", len(docs))
        vecs = dict(zip(emb["vec_id"].astype(int), emb["embedding"]))
        bad += checks.cosine_failures(res["mp"], vecs, self.COSINE)
        bad += checks.component_failures(res["vcomps"], res["mp"], "vec_id",
                                         "id_a", "id_b", len(emb))
        if "inc" in res:
            bad += checks.incremental_failures(res["inc"], b["cross_twins"])
        return bad

    def final_check(self, res: dict) -> list[str]:
        return []  # every op is checked on its own outputs


WORKLOADS = {w.name: w for w in (PetroBatch, PetroNotebook, CorpusDedup)}
