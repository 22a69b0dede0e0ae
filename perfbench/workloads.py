"""The benchmark's workloads: inputs, one timed job, output checks and
per-layer metrics.

Each workload generates its inputs only through ``cli_p_spark.fixtures``
from the seed, writes them as parquet under the run's work directory,
and hands the program nothing else.  ``job`` is one closed-loop job:
the next starts only after it returns.  ``check`` compares the last
output with a computation that does not use the layer under test.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import shutil
import time

import numpy as np

from pyspark.sql import functions as F


# --- input shapes (4 CPUs; see README.md for why each was chosen) -------
KG_DOCS = 10_000
LINEAGE_DOCS = 3_000          # the first 3000 of kg_fused's documents
KG_ENTITIES = 2_000
KG_NLIST = 100
KG_NPROBE = 32
KG_SAMPLE_DOCS = 150          # oracle-checked docs, spread evenly over the corpus
CANON_MENTIONS = 8_000
CANON_HUB = 2_500             # exact copies: above max_bucket, so the star path runs
CANON_TAU = 0.95
CANON_COSINE_SAMPLE = 300
MB = 1e6

TRIPLE_KEY = ["subj", "span_idx", "pred", "obj", "rank"]


def span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def count(tracer, name: str, value) -> None:
    """Record a count on the innermost open span when tracing."""
    if tracer is not None:
        tracer.count(name, float(value))


def count_and_hash(df, cols: list[str]) -> tuple[int, int]:
    """(rows, order-independent fingerprint) in one Spark job."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def rows_hash(rows) -> str:
    """Order-independent fingerprint of collected rows."""
    digest = hashlib.sha256()
    for r in sorted(map(repr, map(tuple, rows))):
        digest.update(r.encode())
    return digest.hexdigest()[:16]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Workload:
    name = ""
    input_rows = 0

    def __init__(self, spark, seed: int, cores: int, work: str):
        self.spark, self.seed, self.cores, self.work = spark, seed, cores, work
        self.hashes: list = []

    def generate(self) -> None:
        raise NotImplementedError

    def open_inputs(self) -> None:
        raise NotImplementedError

    def job(self, tracer, rep_id: int):
        """The timed part of one rep; returns what ``finish`` needs."""
        raise NotImplementedError

    def finish(self, state, tracer) -> tuple:
        """Untimed work after a rep; returns the output fingerprint."""
        return state

    def check(self) -> list[str]:
        raise NotImplementedError

    def layers(self, view) -> dict[str, float]:
        raise NotImplementedError

    def probes(self) -> dict[str, float]:
        """Per-run numbers computed outside Spark (traced runs only)."""
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------- KG ---

class _KgBase(Workload):
    input_rows = KG_DOCS

    def __init__(self, *a):
        super().__init__(*a)
        from cli_p_spark.config import PipelineConfig
        from cli_p_spark.fixtures.generate import make_entities

        self.ents = make_entities(KG_ENTITIES, seed=self.seed)
        self.cfg = PipelineConfig(seed=self.seed, embed_partitions=self.cores)
        self.emat = np.stack(self.ents["embedding"].to_numpy())
        self.docs_path = os.path.join(self.work, "documents")

    def generate(self) -> None:
        from cli_p_spark.fixtures.distributed import distributed_documents

        distributed_documents(
            self.spark, self.input_rows, self.ents, seed=self.seed
        ).write.mode("overwrite").parquet(self.docs_path)

    def open_inputs(self) -> None:
        self.docs = self.spark.read.parquet(self.docs_path)
        self.n_spans = int(
            self.docs.agg(F.sum(F.size("spans"))).first()[0]
        )

    def fused_output(self, docs):
        from cli_p_spark.operators.ann import train_centroids
        from cli_p_spark.operators.fused import fused_triples

        centroids = train_centroids(self.emat, nlist=KG_NLIST, seed=self.seed)
        triples, _ = fused_triples(
            docs, self.ents, centroids, self.cfg, nprobe=KG_NPROBE
        )
        return triples

    def _sample_ids(self) -> list[str]:
        step = self.input_rows // KG_SAMPLE_DOCS
        return [f"doc{i * step:08d}" for i in range(KG_SAMPLE_DOCS)]

    def _sample_docs(self):
        return self.docs.filter(F.col("doc_id").isin(self._sample_ids()))

    def probes(self) -> dict[str, float]:
        """encoder tokens on the sample's span contents (single process),
        index size and exact candidates per query at the run's nprobe."""
        from cli_p_spark.functions.encoder import encode_batch, tokens
        from cli_p_spark.operators.ann import (
            build_ivf_broadcast_value,
            train_centroids,
        )
        from cli_p_spark.oracle.exact import span_contents

        contents = span_contents(self._sample_docs().toPandas())["content"]
        n_tokens = sum(len(tokens(c)) for c in contents)
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            mat, ok = encode_batch(contents, dim=self.cfg.dim, seed=self.seed)
            times.append(time.perf_counter() - t0)
        centroids = train_centroids(self.emat, nlist=KG_NLIST, seed=self.seed)
        index = build_ivf_broadcast_value(self.ents, centroids)
        cell = np.argmax(self.emat.astype(np.float64) @ centroids.T, axis=1)
        sizes = np.bincount(cell, minlength=len(centroids))
        q = mat[ok].astype(np.float64) @ centroids.T
        probed = np.argpartition(-q, KG_NPROBE - 1, axis=1)[:, :KG_NPROBE]
        return {
            "encoder.tokens": float(n_tokens),
            "encoder.tokens_per_s": n_tokens / float(np.median(times)),
            "ann.index_mb": len(pickle.dumps(index, protocol=5)) / MB,
            "ann.candidates_per_query": float(sizes[probed].sum(axis=1).mean()),
            "pipeline.spans": float(self.n_spans),
        }

    def check_sample(self, triples_pdf) -> list[str]:
        """P/R of the sample docs' triples against the NumPy oracle, with
        the gate of tests/test_ann_link.py (both >= 0.95)."""
        from cli_p_spark.oracle.exact import golden_triples, precision_recall

        golden = golden_triples(
            self._sample_docs().toPandas(), self.ents, dim=self.cfg.dim,
            seed=self.seed, tau=self.cfg.tau, k=self.cfg.k,
        )
        sample = triples_pdf[triples_pdf["subj"].isin(self._sample_ids())]
        p, r = precision_recall(sample, golden)
        if p >= 0.95 and r >= 0.95 and len(golden) > 0:
            return []
        return [f"sample P/R vs oracle {p:.3f}/{r:.3f} below 0.95"]


class KgFused(_KgBase):
    """fused_triples over the corpus, then count (with a fingerprint)."""

    name = "kg_fused"

    def job(self, tracer, rep_id: int):
        from cli_p_spark.operators.ann import train_centroids
        from cli_p_spark.operators.fused import fused_triples

        with span(tracer, "ann.train_centroids"):
            centroids = train_centroids(
                self.emat, nlist=KG_NLIST, seed=self.seed
            )
        with span(tracer, "fused.fused_triples"):
            triples, _ = fused_triples(
                self.docs, self.ents, centroids, self.cfg, nprobe=KG_NPROBE
            )
            n, h = count_and_hash(triples, TRIPLE_KEY)
            count(tracer, "triples", n)
        return n, h

    def check(self) -> list[str]:
        """The timed job's plan over the whole corpus once more: its
        fingerprint must be the timed jobs', no (subj, span_idx, rank)
        may repeat, and the sample docs' triples (filtered after the fused
        node, so the full plan runs) must pass the oracle gate."""
        triples = self.fused_output(self.docs).select(*TRIPLE_KEY).persist()
        try:
            errors = []
            full = count_and_hash(triples, TRIPLE_KEY)
            if full != self.hashes[0]:
                errors.append(f"check job's triples {full} differ from the timed jobs' {self.hashes[0]}")
            keys = triples.select("subj", "span_idx", "rank").distinct().count()
            if keys != full[0]:
                errors.append(f"{full[0] - keys} duplicate (subj, span_idx, rank) rows")
            sample = triples.filter(F.col("subj").isin(self._sample_ids()))
            return errors + self.check_sample(sample.toPandas())
        finally:
            triples.unpersist()

    def layers(self, view) -> dict[str, float]:
        m: dict[str, float] = {}
        m["ann.train_s"] = view.span_seconds("ann.train_centroids")
        fused = "fused.fused_triples"
        m.update(view.pipeline_metrics(fused))
        node = view.node_sum(fused, "MapInPandas")
        m["fused.py_start_ms"] = node("time to start Python workers")
        m["fused.py_init_ms"] = node("time to initialize Python workers")
        m["fused.py_run_ms"] = node("time to run Python workers")
        m["fused.to_py_mb"] = node("data sent to Python workers") / MB
        m["fused.from_py_mb"] = node("data returned from Python workers") / MB
        m["fused.task_skew"] = view.task_skew(fused)
        return m


class KgLineage(_KgBase):
    """run_pipeline (the run_kg.py production path) into a fresh
    output directory per rep."""

    name = "kg_lineage"
    input_rows = LINEAGE_DOCS

    def __init__(self, *a):
        super().__init__(*a)
        self.last_out = None
        self.stored: dict[str, float] = {}

    def job(self, tracer, rep_id: int):
        from cli_p_spark.operators import ann
        from cli_p_spark.plans.lineage import run_pipeline

        from .tracing import instrumented

        out = os.path.join(self.work, f"kg_out_{rep_id}")
        shutil.rmtree(out, ignore_errors=True)
        with span(tracer, "lineage.run_pipeline"), instrumented(
            tracer, ann, "train_centroids", "ann.train_centroids"
        ):
            res = run_pipeline(
                self.spark, self.docs, self.ents, out, self.cfg,
                run_id=f"rep{rep_id}", n_parts=self.cores,
                nlist=KG_NLIST, nprobe=KG_NPROBE,
            )
        if res["status"] != "done":
            raise RuntimeError(f"run_pipeline returned {res}")
        return out

    def finish(self, out, tracer) -> tuple:
        h = count_and_hash(
            self.spark.read.parquet(os.path.join(out, "triples")), TRIPLE_KEY
        )
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        self.stored = {}
        total = 0
        for table in ("mentions", "skips", "triples", "lineage"):
            b, files = dir_bytes(os.path.join(out, table))
            self.stored[table] = b
            self.stored["files"] = self.stored.get("files", 0) + files
            total += b
        self.stored["total"] = total
        return h

    def check(self) -> list[str]:
        read = self.spark.read.parquet
        out = self.last_out
        errors = []
        triples = read(os.path.join(out, "triples"))
        fused = count_and_hash(self.fused_output(self.docs), TRIPLE_KEY)
        if self.hashes[0] != fused:
            errors.append(f"lineage triples {self.hashes[0]} differ from fused_triples' {fused}")
        n_rows = read(os.path.join(out, "mentions")).count()
        skips = os.path.join(out, "skips")
        if os.path.isdir(skips) and dir_bytes(skips)[1]:
            n_rows += read(skips).count()
        if n_rows != self.n_spans:
            errors.append(f"mentions+skips {n_rows} != spans {self.n_spans}")
        sample = triples.filter(F.col("subj").isin(self._sample_ids()))
        return errors + self.check_sample(sample.select(*TRIPLE_KEY).toPandas())

    def close(self) -> None:
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)

    def layers(self, view) -> dict[str, float]:
        run = "lineage.run_pipeline"
        m: dict[str, float] = {}
        m["ann.train_s"] = view.span_seconds("ann.train_centroids")
        m.update(view.pipeline_metrics(run))
        enc = view.node_sum(run, "ArrowEvalPython")
        m["encoder.udf_run_ms"] = enc("time to run Python workers")
        m["encoder.udf_from_py_mb"] = enc("data returned from Python workers") / MB
        m["encoder.passes"] = enc("number of output rows") / max(view.n_spans, 1)
        m["ann.search_ms"] = view.node_sum(run, "MapInPandas")(
            "time to run Python workers"
        )
        m["lineage.embed_s"] = view.write_seconds(run, ("/mentions", "/skips"))
        m["lineage.link_s"] = view.write_seconds(run, ("/triples",))
        m["tables.write_ms"] = sum(
            view.node_sum(run, name)(metric)
            for name in view.write_node_names(run)
            for metric in ("task commit time", "job commit time")
        )
        m["tables.mentions_mb"] = self.stored.get("mentions", 0) / MB
        m["tables.triples_mb"] = self.stored.get("triples", 0) / MB
        m["tables.files"] = float(self.stored.get("files", 0))
        m["tables.stored_mb"] = self.stored.get("total", 0) / MB
        return m


# ------------------------------------------------------------- canon ---

class Canon(Workload):
    """hyperplane_lsh_pairs(tau=0.95, group_col='grp') then
    connected_components over generated mentions."""

    name = "canon"
    input_rows = CANON_MENTIONS

    def __init__(self, *a):
        super().__init__(*a)
        self.path = os.path.join(self.work, "mentions")
        self.last = None

    def generate(self) -> None:
        from cli_p_spark.fixtures.distributed import distributed_mentions

        distributed_mentions(
            self.spark, CANON_MENTIONS, hub_copies=CANON_HUB, seed=self.seed
        ).write.mode("overwrite").parquet(self.path)

    def open_inputs(self) -> None:
        from cli_p_spark.operators.lsh import lsh_params_for_tau

        self.mentions = self.spark.read.parquet(self.path)
        self.bits, self.bands = lsh_params_for_tau(CANON_TAU)

    def job(self, tracer, rep_id: int):
        from cli_p_spark.operators.ccomp import connected_components
        from cli_p_spark.operators.lsh import hyperplane_lsh_pairs

        with span(tracer, "lsh.hyperplane_lsh_pairs"):
            pairs = hyperplane_lsh_pairs(
                self.mentions, "embedding", "mention_id", tau=CANON_TAU,
                dim=64, bits_per_band=self.bits, bands=self.bands,
                group_col="grp",
            ).persist()
            n_edges = pairs.count()
            count(tracer, "edges", n_edges)
        stats: dict = {}
        with span(tracer, "ccomp.connected_components"):
            comps = connected_components(
                pairs.select("src", "dst"), stats=stats
            ).collect()
            count(tracer, "rounds", stats.get("rounds", 0))
            count(tracer, "nodes", len(comps))
        return pairs, n_edges, comps, stats

    def finish(self, state, tracer) -> tuple:
        pairs, n_edges, comps, stats = state
        max_bucket = None
        if tracer is not None:
            max_bucket = _max_bucket(pairs)
        edges = pairs.select("src", "dst", "cosine").collect()
        pairs.unpersist()
        pairs.signature_cache.unpersist()
        self.last = {"edges": edges, "comps": comps, "rounds": stats.get("rounds"),
                     "max_bucket": max_bucket}
        if len(edges) != n_edges:
            raise RuntimeError(f"edge count {n_edges} != collected {len(edges)}")
        return rows_hash((e[0], e[1]) for e in edges), rows_hash(comps)

    def check(self) -> list[str]:
        errors = []
        edges, comps = self.last["edges"], self.last["comps"]
        parent: dict[str, str] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for s, d, _ in edges:
            a, b = find(s), find(d)
            if a != b:
                parent[max(a, b)] = min(a, b)
        want = {n: find(n) for n in parent}
        got = {r["node"]: r["component"] for r in comps}
        if got != want:
            errors.append("components differ from union-find over the edges")
        rng = np.random.default_rng(self.seed)
        pick = [edges[i] for i in rng.choice(
            len(edges), min(CANON_COSINE_SAMPLE, len(edges)), replace=False
        )] if edges else []
        ids = sorted({x for e in pick for x in e[:2]})
        vec = {
            r["mention_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in self.mentions.filter(F.col("mention_id").isin(ids))
            .select("mention_id", "embedding").collect()
        }
        for s, d, cos in pick:
            a, b = vec[s], vec[d]
            c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            if c < CANON_TAU - 1e-9 or abs(c - cos) > 1e-6:
                errors.append(f"edge {s}-{d}: cosine {c:.6f} (reported {cos:.6f})")
                break
        if not edges:
            errors.append("no edges")
        return errors

    def layers(self, view) -> dict[str, float]:
        lsh, cc = "lsh.hyperplane_lsh_pairs", "ccomp.connected_components"
        m: dict[str, float] = {}
        m["lsh.band_keys_ms"] = view.node_sum(lsh, "ArrowEvalPython")(
            "time to run Python workers"
        )
        m["lsh.banded_rows"] = view.node_sum(lsh, "Generate")("number of output rows")
        cand = view.min_node_metric(
            lsh, "HashAggregate", r"keys=\[src#\d+, dst#\d+\], functions=\[\]",
            "number of output rows",
        )
        pairs = float(len(self.last["edges"]))
        m["lsh.candidates"] = cand
        m["lsh.pairs"] = pairs
        m["lsh.verify_yield"] = pairs / cand if cand else 0.0
        key_mb = view.exchange_sum(lsh, "_key", "shuffle bytes written") / MB
        m["lsh.candidate_shuffle_mb"] = key_mb
        m["lsh.verify_shuffle_mb"] = view.shuffle_mb(lsh) - key_mb
        m["lsh.max_bucket"] = float(self.last["max_bucket"] or 0)
        m["lsh.join_task_skew"] = view.task_skew(lsh)
        m["lsh.spill_mb"] = view.spill_mb(lsh)
        m["ccomp.rounds"] = float(self.last["rounds"] or 0)
        m["ccomp.s"] = view.span_seconds(cc)
        m["ccomp.jobs"] = float(len(view.jobs_of(cc)))
        m["ccomp.shuffle_mb"] = view.shuffle_mb(cc)
        return m


def _max_bucket(pairs) -> int | None:
    """Largest LSH bucket, read from the operator's own size-tagged
    cache (its ``signature_cache`` handle); None if that is not there."""
    dfs = getattr(getattr(pairs, "signature_cache", None), "_dfs", ())
    for df in dfs:
        if "_bn" in df.columns:
            return int(df.agg(F.max("_bn")).first()[0] or 0)
    return None


WORKLOADS = {w.name: w for w in (KgFused, KgLineage, Canon)}
