"""The benchmark's workloads. Each is a closed loop with one client: the
next op is submitted only after the previous one has returned.

Every workload generates its inputs from the run's seed (``gen``), writes
them to parquet during set-up, and hands the library only those files.
``op`` times one library call plus the action that forces it; its gates
run after the clock stops. ``stages`` runs staged prefixes of the op into
a noop sink after it, so the traced run can split the op's wall between
layers without warming the op's inputs for it.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from perfbench import gates, gen
from xorfilter_net_spark.filters.spark_build import key_digests_jvm
from xorfilter_net_spark.filters.table import build_xor_filter_table
from xorfilter_net_spark.sketches.base import aggregate, aggregate_by_group
from xorfilter_net_spark.sketches.bloom import BloomSketch
from xorfilter_net_spark.sketches.cms import CmsSketch
from xorfilter_net_spark.sketches.hll import HllSketch
from xorfilter_net_spark.sketches.kll import KllSketch

# fixed plan shape: the same on every host
NUM_SHARDS = 16
WIDTH = 16
# input sizes: one op takes 1.5 s (build) and 4.5 s (sketches) at local[4]
BUILD_ROWS = 250_000
SKETCH_ROWS = 300_000
# sketch configurations
HLL_P = 14
KLL_K = 200
BLOOM_FPP = 0.01
KLL_QS = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
BLOOM_CHECK_KEYS = 20_000


@dataclass
class OpResult:
    wall: float  # seconds: the library call and the action that forces it
    keys: int  # work units the op completed
    failures: list[str]
    info: dict = field(default_factory=dict)


@contextlib.contextmanager
def timed_call():
    """Wall seconds of the block, set on exit."""
    out = {}
    t = time.perf_counter()
    yield out
    out["wall"] = time.perf_counter() - t


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _scan(df, col: str = "key"):
    """The input scan alone: read ``col`` but emit only its length, so
    the prefix after it is not charged for copying the strings out."""
    return df.select(F.length(F.col(col).cast("string")))


def staged(tracer, name: str, df) -> float:
    with tracer.span(name, staged=True) as s:
        noop(df)
    return s.dur


class Workload:
    name = ""
    metric = ""  # the workload's throughput under its own name
    extra_metrics: tuple[str, ...] = ()  # op info reported on stderr only
    rows = 0  # corpus turns
    # set-up runs this many ops before the timed loop: the first starts
    # the Python workers; the JIT compiles the hot paths over the next
    # few, and its compiler threads compete with the op for the cores
    warm_up_ops = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work = work_dir
        self.rng = np.random.default_rng(seed)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self) -> None:
        """Make the corpus and its oracle; write the parquet files."""
        table = gen.transcripts(self.rng, gen.make_vocab(self.rng), self.rows,
                                gen.CORPUS_ID_BASE)
        gen.write_parts(table, self.path("corpus"))
        self.table = table
        self.prepare(table)

    def prepare(self, table: pa.Table) -> None:
        """Derive this workload's oracles and check keys from ``table``."""
        raise NotImplementedError

    def adopt(self, other: "Workload") -> None:
        """Use ``other``'s corpus (same work dir) instead of generating one:
        the traced run times this workload's layers on every workload."""
        self.rows = other.rows
        self.prepare(other.table)

    def bind(self, spark) -> None:
        """Open the inputs in ``spark``'s session."""
        raise NotImplementedError

    def op(self, spark, i: int, tracer=None) -> OpResult:
        raise NotImplementedError

    def stages(self, spark, tracer, i: int) -> dict[str, float]:
        """Walls of staged prefixes of op ``i``, run after it: ``scan``
        (reading the input) and any longer prefixes, plus ``scan_rows``,
        the rows the scan read."""
        raise NotImplementedError

    def split(self, stages: dict, res: OpResult,
              map_walls: dict[str, float]) -> dict[str, float]:
        """Self times of one traced op, named after the layer they cost.
        ``map_walls`` maps each library-call span of the op to the wall of
        its first Spark stage, from the event log."""
        raise NotImplementedError


def throughput(ops: list[OpResult]) -> float:
    """Work units per second of median op wall."""
    return ops[0].keys / float(np.median([r.wall for r in ops]))


def median_info(ops: list[OpResult], key: str) -> float:
    return float(np.median([r.info[key] for r in ops]))


def _artifact_bits_per_key(metrics: dict) -> float:
    return metrics["table_size"] * WIDTH / metrics["n_keys"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class XorBuild(Workload):
    """Rebuild the XOR16 table artifact from the corpus, op after op."""

    name = "xor_build"
    metric = "build_keys_per_s"

    rows = BUILD_ROWS
    # after the cold first op a build op takes about 2 s; the JIT keeps
    # shortening it for 3 to 10 more ops, longer when the host is busy
    warm_up_ops = 8

    def prepare(self, table: pa.Table) -> None:
        self.keys = table.column("key").combine_chunks()
        self.unique = len(pc.unique(self.keys))

    def bind(self, spark) -> None:
        self.df = spark.read.parquet(self.path("corpus"))

    def op(self, spark, i: int, tracer=None) -> OpResult:
        out = self.path("artifacts", f"op{i}")
        # a fresh construction seed per op: peel retries vary with it, so
        # the run's median averages over them instead of repeating one
        # seed's retries in every op
        seed = self.seed * 1000 + self.warm_up_ops + i
        with _span(tracer, "filters.build_xor_filter_table"), timed_call() as tc:
            tab = build_xor_filter_table(self.df, "key", out,
                                         num_shards=NUM_SHARDS, width=WIDTH,
                                         seed=seed, jvm_digests=True)
        with _span(tracer, "filters.XorFilterTable.metrics"):
            m = tab.metrics
            info = {"bits_per_key": _artifact_bits_per_key(m)}
            if tracer is not None:
                metas = tab.shards_df().select("meta").collect()
                attempts = sum(json.loads(r["meta"]).get("attempts", 1)
                               for r in metas)
                info["peel_attempts_ratio"] = m["num_shards_built"] / attempts
                info["artifact_bytes"] = _dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        return OpResult(tc["wall"], self.rows,
                        gates.equals("n_keys", m["n_keys"], self.unique),
                        info=info)

    def stages(self, spark, tracer, i: int) -> dict[str, float]:
        dig = key_digests_jvm(self.df, "key")
        shuffled = dig.withColumn(
            "shard", F.pmod(F.col("d0"), F.lit(NUM_SHARDS)).cast("int")
        ).repartition(NUM_SHARDS, "shard")
        return {
            "scan_rows": self.rows,
            "scan": staged(tracer, "sources.scan", _scan(self.df)),
            "prefix": staged(tracer, "filters.key_digests_jvm", dig),
            "shuffle": staged(tracer, "filters.shard_shuffle", shuffled),
        }

    def split(self, stages: dict, res: OpResult,
              map_walls: dict[str, float]) -> dict[str, float]:
        return {
            "filters.digest_self_s": stages["prefix"] - stages["scan"],
            "filters.shuffle_self_s": stages["shuffle"] - stages["prefix"],
            "filters.build_kernel_self_s": res.wall - stages["shuffle"],
            "filters.artifact_bytes": res.info["artifact_bytes"],
            "filters.peel_attempts_ratio": res.info["peel_attempts_ratio"],
        }


class SketchRollup(Workload):
    """HLL, Count-Min, KLL and Bloom over the corpus, plus an HLL per role."""

    name = "sketch_rollup"
    metric = "sketch_rows_per_s"
    extra_metrics = ("sketch_max_rel_error",)

    rows = SKETCH_ROWS
    # a sketch op takes about 15 s cold, then 5.5 s, and 4.5-5 s from the
    # third on
    warm_up_ops = 2

    def prepare(self, table: pa.Table) -> None:
        self.keys = table.column("key").combine_chunks()
        self.oracle = gen.oracle(table)
        pick = self.rng.choice(self.rows, size=BLOOM_CHECK_KEYS, replace=False)
        self.bloom_check = pd.Series(self.keys.take(pa.array(pick)).to_pylist(),
                                     dtype=object)

    def bind(self, spark) -> None:
        df = spark.read.parquet(self.path("corpus"))
        self.df = df
        self.sketches = {
            "hll": HllSketch(HLL_P, key_col="conv_id"),
            "cms": CmsSketch(key_col="tag"),
            "kll": KllSketch(KLL_K, value_col="text_len"),
            "bloom": BloomSketch.for_capacity(self.oracle.unique_keys,
                                              BLOOM_FPP, key_col="key"),
        }
        self.inputs = {
            "hll": df.select("conv_id"),
            "cms": df.select("tag"),
            "kll": df.select(F.length("text").alias("text_len")),
            "bloom": df.select("key"),
        }
        self.by_role = df.select("role", "conv_id")

    def op(self, spark, i: int, tracer=None) -> OpResult:
        states, walls = {}, {}
        group_sk = HllSketch(HLL_P, key_col="conv_id")
        with timed_call() as tc:
            for name, sk in self.sketches.items():
                cols = self.inputs[name].columns
                with _span(tracer, f"sketches.aggregate.{name}"):
                    t = time.perf_counter()
                    states[name] = aggregate(self.inputs[name], cols, sk)
                    walls[name] = time.perf_counter() - t
            with _span(tracer, "sketches.aggregate_by_group.hll"):
                groups = aggregate_by_group(self.by_role, ["role"],
                                            ["conv_id"], group_sk).collect()
        failures, errors = self._check(states, groups, group_sk)
        state_bytes = sum(len(sk.serialize(states[n]))
                          for n, sk in self.sketches.items())
        state_bytes += sum(len(r["state"]) for r in groups)
        return OpResult(tc["wall"], self.rows, failures, info={
            "sketch_max_rel_error": max(errors),
            "bits_per_key": state_bytes * 8 / self.oracle.unique_keys,
            "aggregate_walls": walls,
        })

    def _check(self, states, groups, group_sk) -> tuple[list[str], list[float]]:
        o, sk = self.oracle, self.sketches
        failures, errors = [], []

        est = sk["hll"].estimate(states["hll"])
        failures += gates.hll_within("distinct conv_id", est, o.distinct_conv,
                                     HLL_P)
        errors.append(gates.hll_error(est, o.distinct_conv))
        for r in groups:
            want = o.distinct_conv_by_role[r["role"]]
            est = group_sk.estimate(group_sk.deserialize(bytes(r["state"])))
            failures += gates.hll_within(f"distinct conv_id, role {r['role']}",
                                         est, want, HLL_P)
            errors.append(gates.hll_error(est, want))
        failures += gates.equals("HLL groups", len(groups),
                                 len(o.distinct_conv_by_role))

        tags = list(o.tag_counts)
        cms_est = dict(zip(tags, sk["cms"].estimate_series(
            states["cms"], pd.Series(tags, dtype=object))))
        failures += gates.cms_within(cms_est, o.tag_counts, sk["cms"].eps,
                                     o.rows)
        errors += [(int(cms_est[t]) - c) / c for t, c in o.tag_counts.items()]

        kll_err = {}
        for q in KLL_QS:
            lo, hi = o.rank_range(sk["kll"].quantile(states["kll"], q))
            kll_err[q] = gates.kll_rank_error(q, lo, hi)
        failures += gates.kll_within(kll_err)
        errors += list(kll_err.values())

        failures += gates.all_members(
            "Bloom", sk["bloom"].contains_series(states["bloom"],
                                                 self.bloom_check))
        return failures, errors

    def stages(self, spark, tracer, i: int) -> dict[str, float]:
        scan = 0.0
        for name, df in self.inputs.items():
            scan += staged(tracer, f"sources.scan.{name}",
                            _scan(df, col=df.columns[0]))
        return {"scan_rows": len(self.inputs) * self.rows, "scan": scan}

    def split(self, stages: dict, res: OpResult,
              map_walls: dict[str, float]) -> dict[str, float]:
        # the first stage of each aggregate scans and folds the partitions
        # (mapInPandas partials); the rest is the tree merge and its jobs
        map_side = sum(map_walls[f"sketches.aggregate.{n}"]
                       for n in self.sketches)
        return {
            "sketches.partials_self_s": map_side - stages["scan"],
            "sketches.tree_merge_self_s": (sum(res.info["aggregate_walls"].values())
                                           - map_side),
        }


WORKLOADS = {w.name: w for w in (XorBuild, SketchRollup)}
