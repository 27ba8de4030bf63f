"""The engine calls the benchmark makes, and the checks on their outputs.

Every call goes through the engine's public API, in the order
``jobs/rollup_job.py`` and ``jobs/route_query.py`` use.  The benchmark
materialises each layer's output (cache + count) at the layer boundary
so a span can time it; the untraced and traced runs make the same calls.
Checks read the written files with pyarrow and pandas, outside any
timed span, so they share no code path with the engine's readers.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

TIERS = ("t1k", "t100k")
BUCKETS_T1K = 256
COARSE_FACTOR = 100
BUCKETS_T100K = -(-BUCKETS_T1K // COARSE_FACTOR)
SALTS = 16
CODEC_CHUNK = 4096  # encode_streams' default chunk of cells
READ_FEATURES = 4   # features a routed read asks for, besides the totals


@dataclass(frozen=True)
class Workload:
    name: str
    multivariate: bool   # 2-D input and the fallback plan, else flagship
    docs_per_run: int    # docs each job commits
    shared_base: bool    # the warm-up run stays in the timed run's base

    @property
    def slots(self) -> int:
        """Input slices: one per run when runs share a base (runs
        partition the corpus), else one that every job reads."""
        return 2 if self.shared_base else 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload("rollup_flagship", multivariate=False, docs_per_run=8_000,
                 shared_base=False),
        Workload("mv_fallback_retain", multivariate=True, docs_per_run=2_000,
                 shared_base=True),
    )
}


# ---------------------------------------------------------------------------
# plans
# ---------------------------------------------------------------------------

def flagship_plan():
    """The plan ``jobs/rollup_job.py`` runs: std -> EXTENDED
    of_weight(4, 1) over the reals, plus arctic [1][1] / [11][1], with
    END/PPV/MAX sieves."""
    from fruits_spark.plan import FruitPlan, ISSSpec, Prep, Sieve, Slice
    from fruits_spark.words import W, of_weight

    return FruitPlan((
        Slice(
            preps=(Prep("std"),),
            iss=ISSSpec(tuple(of_weight(4, 1)), mode="extended"),
            sieves=(
                Sieve("end"),
                Sieve("ppv", {"quantiles": [0.0], "constant": [True]}),
                Sieve("max"),
            ),
        ),
        Slice(
            preps=(Prep("std"),),
            iss=ISSSpec((W("[1][1]"), W("[11][1]")), semiring="arctic"),
            sieves=(Sieve("end"), Sieve("max")),
        ),
    ))


def fallback_plan():
    """A narrow 2-D plan whose preparateur (the across-dims moving
    average, ``mav`` with width -1) has no flat implementation, so every
    batch takes the bucketed branch: std, then append the dims' mean as
    a third dim, then all 15 words of weight 2 over 3 dims, END and
    MAX."""
    from fruits_spark.plan import FruitPlan, ISSSpec, Prep, Sieve, Slice
    from fruits_spark.words import of_weight

    return FruitPlan((
        Slice(
            preps=(
                Prep("std"),
                Prep("new", {"prep": Prep("mav", {"width": -1})}),
            ),
            iss=ISSSpec(tuple(of_weight(2, 3))),
            sieves=(Sieve("end"), Sieve("max")),
        ),
    ))


def plan_for(wl: Workload):
    return fallback_plan() if wl.multivariate else flagship_plan()


# ---------------------------------------------------------------------------
# input
# ---------------------------------------------------------------------------

def second_dim(tokens: np.ndarray) -> np.ndarray:
    """The 2-D input's second dimension, derived from the seeded tokens."""
    t = tokens.astype(np.int64)
    return ((t * 31 + np.arange(len(t))) % 1009).astype(np.float64)


def _token_table(wl: Workload, seed: int, lo: int, hi: int):
    """Docs ``[lo, hi)`` of the run's seeded table, as
    ``datagen.generate_spark`` would produce them (it maps the same
    ``generate_pandas_range`` over id ranges); 2-D workloads replace
    ``tokens`` with ``[tokens, second_dim(tokens)]``."""
    from fruits_spark import datagen

    pdf = datagen.generate_pandas_range(lo, hi, wl.docs_per_run * wl.slots,
                                        seed)
    if wl.multivariate:
        pdf["tokens"] = [
            np.stack([t.astype(np.float64), second_dim(t)])
            for t in pdf["tokens"]
        ]
    return pdf


def write_input(wl: Workload, seed: int, path: str, files: int) -> dict:
    """Generate the run's token table from ``seed`` and write it once as
    parquet, ``files`` files per slot (Spark reads one file per task at
    these sizes, so this sets the extract parallelism).  Runs that share
    a base each read their own slot (doc index mod runs).  Returns
    (docs, tokens) per slot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = _token_table(wl, seed, 0, wl.docs_per_run * wl.slots)
    slots = np.arange(len(pdf)) % wl.slots
    counts = {}
    for k in range(wl.slots):
        part = pdf[slots == k].reset_index(drop=True)
        counts[k] = (len(part), int(part["n_tok"].sum()))
        os.makedirs(os.path.join(path, f"slot={k}"))
        for i, rows in enumerate(np.array_split(np.arange(len(part)), files)):
            chunk = part.iloc[rows]
            if wl.multivariate:
                tokens = pa.array(
                    [[d.tolist() for d in z] for z in chunk["tokens"]],
                    pa.list_(pa.list_(pa.float64())),
                )
            else:
                tokens = pa.array(list(chunk["tokens"]), pa.list_(pa.int32()))
            table = pa.table({
                "doc_id": pa.array(chunk["doc_id"], pa.string()),
                "tokens": tokens,
                "n_tok": pa.array(chunk["n_tok"], pa.int32()),
                "source": pa.array(chunk["source"], pa.string()),
            })
            pq.write_table(
                table, os.path.join(path, f"slot={k}", f"part-{i:03d}.parquet")
            )
    return counts


def read_slot(spark, path: str, slot: int):
    """Run ``slot``'s token table, read as ``jobs/rollup_job.py --input``
    reads it."""
    return spark.read.parquet(os.path.join(path, f"slot={slot}"))


def sample_batches(wl: Workload, seed: int, n_docs: int, rows: int = 512):
    """The first ``n_docs`` docs of the run's seeded table, in
    Arrow-sized row batches as the executor's workers see them:
    univariate ``(values, offsets)``, or a list of ``(dims, length)``
    arrays."""
    from fruits_spark.kernels.segments import flatten_lists

    pdf = _token_table(wl, seed, 0, n_docs)
    for lo in range(0, len(pdf), rows):
        col = pdf["tokens"].iloc[lo:lo + rows]
        yield list(col) if wl.multivariate else flatten_lists(col)


# ---------------------------------------------------------------------------
# the job: jobs/rollup_job.py's call sequence, one layer per span
# ---------------------------------------------------------------------------

def rollup_job(spark, tracer, toks, fplan, base: str, run_id: str,
               multivariate: bool, stats=None) -> dict:
    from pyspark.sql import functions as F

    from fruits_spark.engine import io as IO
    from fruits_spark.engine import lineage as LI
    from fruits_spark.engine import rollup as RU
    from fruits_spark.engine.codec_udf import encode_streams
    from fruits_spark.engine.executor import extract_features, feature_columns

    fc = feature_columns(fplan)
    n_streams = sum(s.n_streams() for s in fplan.slices)
    fill = {f"sum_{fc[0]}": 0}
    out = {"commit_s": 0.0, "encode_s": 0.0, "cells_committed": 0}
    with tracer.span("job", run=run_id) as job:
        with tracer.span("executor.extract") as sp:
            feats = extract_features(
                toks, fplan, multivariate=multivariate, stats=stats
            ).cache()
            out["rows"] = feats.count()
        out["extract_s"] = sp["s"]
        cached = [feats]
        prev = None
        for tier, nb in (("t1k", BUCKETS_T1K), ("t100k", BUCKETS_T100K)):
            with tracer.span(f"rollup.{tier}") as sp:
                if prev is None:
                    rolled = RU.rollup_tier_salted(
                        feats, RU.Tier("t1k", 1_000), nb, fc, n_salts=SALTS
                    ).cache()
                else:
                    rolled = RU.reagg_tier(
                        prev, fc,
                        bucket_expr=F.floor(
                            F.col("bucket") / COARSE_FACTOR
                        ).cast("int"),
                    ).cache()
                out[f"{tier}_cells"] = rolled.count()
            out[f"{tier}_s"] = sp["s"]
            cached.append(rolled)
            prev = rolled
            with tracer.span("lineage.commit", tier=tier) as sp:
                filled = RU.gap_fill(
                    rolled, RU.bucket_spine(rolled, nb), fill_cols=fill
                )
                out["cells_committed"] += LI.commit_cells(
                    filled, spark, base, run_id, tier,
                    n_points_per_doc=n_streams,
                )
            out["commit_s"] += sp["s"]
            with tracer.span("codec.encode", tier=tier) as sp:
                IO.write_tier(
                    encode_streams(filled, f"sum_{fc[0]}"),
                    base, f"codec_{tier}", run_id,
                )
            out["encode_s"] += sp["s"]
        for df in cached:
            df.unpersist()
    out["job_s"] = job["s"]
    return out


def open_tiers(spark, base: str):
    """Both tiers of a base as the read surface opens them
    (``jobs/route_query.py``): ``run`` partition value kept a string."""
    from pyspark.sql import functions as F

    return tuple(
        spark.read.parquet(os.path.join(base, f"tier={t}"))
        .withColumn("run", F.col("run").cast("string"))
        for t in TIERS
    )


def routed_read(tracer, fine, coarse, lo: int, hi: int) -> dict:
    """One client read: per-source totals and the first
    :data:`READ_FEATURES` features over fine buckets ``[lo, hi)``,
    through ``route_query_cells(...).collect()``."""
    from fruits_spark.engine import rollup as RU

    fc = sorted(c[4:] for c in fine.columns if c.startswith("sum_f"))
    with tracer.span("route.read", lo=lo, hi=hi):
        rows = RU.route_query_cells(
            fine, coarse, COARSE_FACTOR, lo, hi, fc[:READ_FEATURES]
        ).collect()
    return {
        r["source"]: {"n_docs": int(r["n_docs"]), "sum_tok": int(r["sum_tok"])}
        for r in rows
    }


def maintain(spark, tracer, base: str, runs: list[str]) -> dict:
    """One maintenance pass: bin-pack every run's tier and codec files,
    compact the manifest, then retire all but the newest run."""
    from fruits_spark.engine import compact as CP
    from fruits_spark.engine import io as IO
    from fruits_spark.engine import lineage as LI

    retired = runs[:-1]
    out = {"manifest_files": CP.count_data_files(LI.manifest_path(base))}
    with tracer.span("maintain") as m:
        with tracer.span("compact.run") as sp:
            cst = [CP.compact_run(spark, base, list(TIERS), r) for r in runs]
        out["compact_s"] = sp["s"]
        with tracer.span("lineage.compact_manifest") as sp:
            mst = LI.compact_manifest(spark, base)
        out["compact_manifest_s"] = sp["s"]
        with tracer.span("io.drop_retired"):
            for t in TIERS:
                IO.drop_retired_partitions(spark, base, f"codec_{t}", retired)
        with tracer.span("lineage.retire") as sp:
            LI.retire_runs(spark, base, list(TIERS), retired)
        out["retire_s"] = sp["s"]
    out["maintain_s"] = m["s"]
    parts = [s for per_run in cst for s in per_run.values()]
    out["files_before"] = sum(s["files_before"] for s in parts) + mst["files_before"]
    out["files_after"] = sum(s["files_after"] for s in parts) + mst["files_after"]
    out["compact_bytes"] = sum(s["bytes"] for s in parts)
    out["retired"] = retired
    return out


# ---------------------------------------------------------------------------
# checks (pyarrow + pandas; never timed)
# ---------------------------------------------------------------------------

def _read(path: str, columns=None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    ).to_pandas()


def check_job(base: str, run_id: str, want_docs: int, want_tokens: int,
              fc0: str) -> list[str]:
    """Failures of one committed job (empty when it is correct):
    doc and token totals of both tiers, t100k against the re-aggregation
    of t1k, and one codec chunk decoded against the t1k column."""
    from fruits_spark.engine.codec_udf import decode_stream

    cols = ["source", "bucket", "n_docs", "sum_tok", f"sum_{fc0}", f"max_{fc0}"]
    fails = []
    tiers = {
        t: _read(os.path.join(base, f"tier={t}", f"run={run_id}"), cols)
        for t in TIERS
    }
    for t, cells in tiers.items():
        got = (int(cells["n_docs"].sum()), int(cells["sum_tok"].sum()))
        if got != (want_docs, want_tokens):
            fails.append(f"{t} totals {got} != {(want_docs, want_tokens)}")
    fine = tiers["t1k"].assign(bucket=tiers["t1k"]["bucket"] // COARSE_FACTOR)
    re = fine.groupby(["source", "bucket"]).agg(
        n_docs=("n_docs", "sum"), sum_tok=("sum_tok", "sum"),
        s=(f"sum_{fc0}", "sum"), m=(f"max_{fc0}", "max"),
    ).reset_index()
    co = tiers["t100k"].rename(columns={f"sum_{fc0}": "s", f"max_{fc0}": "m"})
    j = re.merge(co, on=["source", "bucket"], how="outer",
                 suffixes=("_re", "_co"), indicator=True)
    if (j["_merge"] != "both").any():
        fails.append("t100k cell keys differ from the t1k re-aggregation")
    else:
        for c in ("n_docs", "sum_tok"):
            if not (j[f"{c}_re"] == j[f"{c}_co"]).all():
                fails.append(f"t100k {c} differs from the t1k re-aggregation")
        if not np.allclose(j["s_re"], j["s_co"], rtol=1e-9, atol=1e-9):
            fails.append("t100k feature sums differ from the t1k re-aggregation")
        if not np.array_equal(j["m_re"], j["m_co"], equal_nan=True):
            fails.append("t100k feature maxes differ from the t1k re-aggregation")
    codec = _read(os.path.join(base, "codec_t1k", f"run={run_id}"))
    codec["source"] = codec["source"].astype(str)
    row = codec.sort_values(["source", "chunk_id"]).iloc[0]
    t1k = tiers["t1k"]
    lo = int(row["chunk_id"]) * CODEC_CHUNK
    want = t1k[(t1k["source"] == row["source"]) & (t1k["bucket"] >= lo)
               & (t1k["bucket"] < lo + CODEC_CHUNK)].sort_values("bucket")
    got = decode_stream(row["gorilla_blob"], int(row["n"]))
    if not np.array_equal(np.asarray(got), want[f"sum_{fc0}"].to_numpy()):
        fails.append(f"codec chunk {row['source']}/{row['chunk_id']} "
                     "does not decode to the t1k column")
    return fails


def job_sizes(base: str, run_id: str) -> dict:
    """What one job left on disk: codec blob bytes (Gorilla values plus
    delta-of-delta buckets, both tiers) and the data files and bytes of
    its tier and codec directories."""
    from fruits_spark.engine import compact as CP

    dirs = [os.path.join(base, table, f"run={run_id}")
            for t in TIERS for table in (f"tier={t}", f"codec_{t}")]
    blob = 0
    for t in TIERS:
        codec = _read(os.path.join(base, f"codec_{t}", f"run={run_id}"),
                      ["gorilla_blob", "dod_blob"])
        blob += int(codec["gorilla_blob"].map(len).sum()
                    + codec["dod_blob"].map(len).sum())
    return {
        "blob_bytes": blob,
        "files": sum(CP.count_data_files(d) for d in dirs),
        "bytes": sum(CP.dir_data_bytes(d) for d in dirs),
    }


def fine_cells(base: str):
    """Every committed t1k cell of the base with its run, for the
    routed-read recompute."""
    df = _read(os.path.join(base, "tier=t1k"),
               ["run", "source", "bucket", "n_docs", "sum_tok"])
    return df.astype({"run": str, "source": str})


def check_maintenance(base: str, retired: list[str], kept: str) -> list[str]:
    fails = []
    for t in TIERS:
        for table in (f"tier={t}", f"codec_{t}"):
            for r in retired:
                if os.path.exists(os.path.join(base, table, f"run={r}")):
                    fails.append(f"retired run {r} still in {table}")
            if not os.path.isdir(os.path.join(base, table, f"run={kept}")):
                fails.append(f"kept run {kept} missing from {table}")
    runs = set(_read(os.path.join(base, "_lineage"), ["run_id"])["run_id"])
    if runs != {kept}:
        fails.append(f"manifest runs {sorted(runs)} != [{kept}]")
    return fails


def committed_points(base: str) -> int:
    """ISS points the base's live t1k cells hold, from the manifest."""
    m = _read(os.path.join(base, "_lineage"), ["tier", "n_points"])
    return int(m.loc[m["tier"] == "t1k", "n_points"].sum())
