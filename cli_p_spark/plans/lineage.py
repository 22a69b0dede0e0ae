"""Checkpointed, resumable pipeline runs with per-partition lineage.

Generalizes the reference's resumability devices — the fn_db/skip_db
presence checks that make build-index.py idempotent (build-index.py:36-44,
59-61) and the per-query timing print (query-index.py:110-113) — to
partition granularity, per the north_rule: "every stage writes
per-partition lineage + metrics and commits checkpoints so a killed run
resumes at partition granularity".

Layout under ``out_dir``:

    mentions/part_id=N/...   embedding-stage output, one dir per partition
    skips/                   quarantined spans (append)
    triples/                 final links
    lineage/                 one row per (stage, part_id, run_id): counts,
                             wall seconds, timestamp, status

Resume protocol (the expensive stage is encode — that is what must not
recompute): a partition of the embedding stage is DONE iff a lineage row
(stage='embed', part_id, status='done') exists.  A resumed run anti-joins
the input against done partitions (exactly the reference's fn_db check,
build-index.py:42-44, lifted from per-file to per-partition) and
dynamic-partition-OVERWRITES the missing partition directories: data
commits before lineage, so a kill between the two leaves partitions
unmarked — the resume re-runs them and the overwrite replaces (never
duplicates) their rows.  Idempotent per-partition commit, no
write-ordering race (gated by test_resume's after_data kill).  Downstream stages are cheap
relative to encode and rebuild from the union of all mention partitions.

part_id = pmod(xxhash64(doc_id), n_parts): deterministic, independent of
input order and cluster size — a resume on a different cluster still
skips the right work.
"""

from __future__ import annotations

import datetime
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from .pipeline import (
    encode_mentions,
    explode_spans,
    split_skips,
    triples_from_links,
)

LINEAGE_SCHEMA = (
    "stage string, part_id int, run_id string, status string, "
    "n_rows long, n_skips long, wall_s double, ts timestamp"
)


def _utcnow() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    from .tables import TableStore

    return TableStore(spark, out_dir).read("lineage")


def _append_lineage(spark: SparkSession, out_dir: str, rows: list[tuple]):
    from .tables import TableStore

    TableStore(spark, out_dir).append(
        spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1), "lineage"
    )


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    entities_pdf,
    out_dir: str,
    cfg: PipelineConfig = PipelineConfig(),
    run_id: str = "run0",
    n_parts: int = 16,
    nlist: int = 100,
    nprobe: int = 32,
    fail_after_parts: int | None = None,
    fail_mode: str = "after_lineage",
) -> dict[str, str]:
    """Execute (or resume) the KG pipeline into ``out_dir``.

    ``fail_after_parts`` simulates a mid-run kill for the resume tests:
    only that many embed partitions are processed before returning.
    ``fail_mode='after_data'`` kills INSIDE the crash window — after the
    partition data commits but before its lineage rows do.  Resume stays
    correct either way because partition writes are dynamic-partition
    OVERWRITES: a partition whose lineage row is missing is simply
    re-run, and the re-run replaces its directory instead of appending
    duplicates (idempotent per-partition commit).
    """
    import numpy as np

    from ..operators.ann import link_ivf_broadcast, train_centroids
    from .tables import TableStore

    store = TableStore(spark, out_dir)

    # ---- stage: embed (partition-granular, resumable) ----
    spans = explode_spans(documents).withColumn(
        "part_id",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"),
    )
    lineage = read_lineage(spark, out_dir)
    if lineage is not None:
        done = {
            r["part_id"]
            for r in lineage.filter(
                (F.col("stage") == "embed") & (F.col("status") == "done")
            ).select("part_id").distinct().collect()
        }
    else:
        done = set()

    all_parts = sorted(
        r["part_id"]
        for r in spans.select("part_id").distinct().collect()
    )
    todo = [p for p in all_parts if p not in done]
    if fail_after_parts is not None:
        todo = todo[:fail_after_parts]

    if todo:
        t0 = time.time()
        batch = spans.filter(F.col("part_id").isin(todo))
        # cache: the expensive encode UDF feeds BOTH the mentions and the
        # skips writes — without it each write (and any count) re-runs
        # the encoder over the whole batch
        encoded = encode_mentions(batch, cfg).persist()
        ok, skips = split_skips(encoded)
        store.overwrite_partitions(
            ok.select("doc_id", "span_idx", "kind", "embedding", "part_id"),
            "mentions", partition_by=("part_id",),
        )
        skips_with_part = skips.join(
            spans.select("doc_id", "span_idx", "part_id"),
            ["doc_id", "span_idx"],
        )
        store.overwrite_partitions(
            skips_with_part, "skips", partition_by=("part_id",)
        )
        encoded.unpersist()
        if fail_after_parts is not None and fail_mode == "after_data":
            # simulated kill inside the crash window: data committed,
            # lineage not — these partitions must re-run idempotently
            return {"out_dir": out_dir, "status": "killed"}
        wall = time.time() - t0
        # per-partition metrics from the WRITTEN data (exact counts, no
        # recompute of the encode stage)
        counts = {
            r["part_id"]: (r["n"],)
            for r in store.read("mentions")
            .filter(F.col("part_id").isin(todo))
            .groupBy("part_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        skips_written = store.read("skips")
        skip_counts = (
            {}
            if skips_written is None
            else {
                r["part_id"]: r["n"]
                for r in skips_written.filter(F.col("part_id").isin(todo))
                .groupBy("part_id").agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        )
        now = _utcnow()
        _append_lineage(
            spark,
            out_dir,
            [
                (
                    "embed", int(p), run_id, "done",
                    int(counts.get(p, (0,))[0]),
                    int(skip_counts.get(p, 0)),
                    wall / max(len(todo), 1), now,
                )
                for p in todo
            ],
        )

    if fail_after_parts is not None:
        return {"out_dir": out_dir, "status": "killed"}

    # ---- stage: link + triples (rebuilt from all mention partitions) ----
    t0 = time.time()
    mentions = store.read("mentions").select(
        "doc_id", "span_idx", "kind", "embedding"
    )
    emat = np.stack(entities_pdf["embedding"].to_numpy())
    centroids = train_centroids(emat, nlist=nlist, seed=cfg.seed)
    # entity index fits executors (the reference's own regime) -> the
    # zero-shuffle GEMM search
    links = link_ivf_broadcast(
        mentions, entities_pdf, centroids,
        k=cfg.k, tau=cfg.tau, nprobe=nprobe,
    )
    triples = triples_from_links(links)
    store.overwrite(triples, "triples")
    n_triples = store.read("triples").count()
    _append_lineage(
        spark,
        out_dir,
        [("link", -1, run_id, "done", n_triples, 0, time.time() - t0,
          _utcnow())],
    )
    return {"out_dir": out_dir, "status": "done"}
