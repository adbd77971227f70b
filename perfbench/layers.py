"""Direct calls into single layers, timed from the benchmark's own code.

The same calls run on every workload's own keys, so a layer change shows
up here even on a workload whose end-to-end number it should not move.
``probe_calls`` and ``pipeline_calls`` run small Spark jobs: the two
membership-probe paths against a table artifact, and the checkpointed
build with one incremental update of a 1% delta.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import gates, gen
from perfbench.workloads import (
    BLOOM_FPP,
    HLL_P,
    KLL_K,
    NUM_SHARDS,
    WIDTH,
    staged,
)
from xorfilter_net_spark.filters.spark_build import key_digests_jvm, probe_sql
from xorfilter_net_spark.filters.table import build_xor_filter_table
from xorfilter_net_spark.filters.xor_core import build_from_digests
from xorfilter_net_spark.kernels.column import series_to_bytes
from xorfilter_net_spark.kernels.hashes import digest128, pack_bytes
from xorfilter_net_spark.pipeline.checkpoint import (
    build_xor_filter_checkpointed,
    update_xor_filter_checkpointed,
)
from xorfilter_net_spark.sketches.bloom import BloomSketch
from xorfilter_net_spark.sketches.cms import CmsSketch
from xorfilter_net_spark.sketches.hll import HllSketch
from xorfilter_net_spark.sketches.kll import KllSketch

KERNEL_KEYS = 1 << 18
PEEL_KEYS = 1 << 15  # about one shard of the build workload
SKETCH_BATCH = 1 << 16
PROBE_FILTER_KEYS = 40_000
PROBE_NONMEMBERS = 40_000
PIPELINE_BASE_KEYS = 40_000
PIPELINE_DELTA_KEYS = PIPELINE_BASE_KEYS // 100
REPEATS = 3


def timed(fn, repeats: int = REPEATS) -> tuple[float, object]:
    """Median wall of ``repeats`` calls, and the last call's result."""
    walls, out = [], None
    for _ in range(repeats):
        t = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls), out


def direct_calls(keys: pa.Array) -> tuple[dict[str, float], list[str]]:
    """Per-layer metrics from direct calls on ``keys``, and gate failures."""
    keys = keys.slice(0, KERNEL_KEYS)
    s = pd.Series(keys.to_pylist(), dtype=object)
    n = len(s)
    out: dict[str, float] = {}

    t, raw = timed(lambda: series_to_bytes(s))
    out["kernels.encode_keys_per_s"] = n / t
    t, (buf, lens) = timed(lambda: pack_bytes(raw))
    out["kernels.pack_keys_per_s"] = n / t
    t, (d0, d1) = timed(lambda: digest128(buf, lens))
    out["kernels.digest128_keys_per_s"] = n / t

    p0, p1 = d0[:PEEL_KEYS], d1[:PEEL_KEYS]
    t, filt = timed(lambda: build_from_digests(p0, p1, width=WIDTH, seed=1,
                                               mode="sqlhash"))
    out["filters.peel_keys_per_s"] = PEEL_KEYS / t
    t, member = timed(lambda: filt.contains_digests(d0, d1))
    failures = gates.all_members("direct peel", member[:PEEL_KEYS])
    out["filters.contains_keys_per_s"] = n / t

    key = pd.DataFrame({"key": s.iloc[:SKETCH_BATCH]})
    length = pd.DataFrame({"len": key["key"].str.len().astype(np.float64)})
    half = SKETCH_BATCH // 2
    for name, sk, pdf in (
        ("hll", HllSketch(HLL_P), key),
        ("cms", CmsSketch(), key),
        ("kll", KllSketch(KLL_K), length),
        ("bloom", BloomSketch.for_capacity(SKETCH_BATCH, BLOOM_FPP), key),
    ):
        t, st = timed(lambda: sk.update(sk.zero(), pdf))
        out[f"sketches.update_rows_per_s.{name}"] = len(pdf) / t
        a = sk.update(sk.zero(), pdf.iloc[:half])
        b = sk.update(sk.zero(), pdf.iloc[half:])
        t, _ = timed(lambda: sk.merge(a, b), repeats=5)
        out[f"sketches.merge_s.{name}"] = t
        out[f"sketches.state_bytes.{name}"] = float(len(sk.serialize(st)))
    return out, failures


def _probe_counts(probed) -> dict:
    rows = probed.groupBy("m", "is_member").count().collect()
    return {(r["m"], r["is_member"]): r["count"] for r in rows}


def probe_calls(spark, tracer, work_dir: str, keys: pa.Array,
                rng: np.random.Generator) -> tuple[dict, list[str]]:
    """Build a table artifact over the first ``PROBE_FILTER_KEYS`` keys and
    probe a batch of never-inserted keys plus as many members through the
    broadcast path (``probe_sql``) and the table path (cogrouped
    ``XorFilterTable.probe``). Each path's second call is timed. A probe's
    self time is its wall minus a staged scan + ``key_digests_jvm`` of the
    batch into a noop sink, also the second of two."""
    non = gen.transcripts(rng, gen.make_vocab(rng), PROBE_NONMEMBERS,
                          gen.NONMEMBER_ID_BASE, dup_share=0.0).column("key")
    src = os.path.join(work_dir, "filter_src")
    batch_dir = os.path.join(work_dir, "batch")
    gen.write_parts(pa.table({"key": keys.slice(0, PROBE_FILTER_KEYS)}), src)
    gen.write_parts(gen.probe_batch(rng, keys.slice(0, PROBE_FILTER_KEYS), non),
                    batch_dir)
    tab = build_xor_filter_table(spark.read.parquet(src), "key",
                                 os.path.join(work_dir, "artifact"),
                                 num_shards=NUM_SHARDS, width=WIDTH,
                                 jvm_digests=True)
    t = time.perf_counter()
    sx = tab.to_sharded()
    load_s = time.perf_counter() - t
    batch = spark.read.parquet(batch_dir)
    walls, counts = {}, {}
    for path, fn in (("broadcast", lambda: probe_sql(sx, batch, "key")),
                     ("table", lambda: tab.probe(batch, "key"))):
        for rnd in range(2):
            t = time.perf_counter()
            counts[path, rnd] = _probe_counts(fn())
            walls[path, rnd] = time.perf_counter() - t
    for _ in range(2):
        prefix = staged(tracer, "filters.key_digests_jvm",
                         key_digests_jvm(batch, "key"))
    failures = []
    for (path, rnd), c in counts.items():
        failures += gates.no_false_negatives(f"{path} probe",
                                             c.get((True, False), 0))
        failures += gates.equals(f"{path} probe counts", c, counts["table", 0])
    c = counts["table", 0]
    n_non = c.get((False, True), 0) + c.get((False, False), 0)
    failures += gates.fpr_within_bound(c.get((False, True), 0), n_non)
    n = 2 * PROBE_NONMEMBERS
    return {
        "filters.artifact_load_s": load_s,
        "filters.probe_plan_first_s": walls["broadcast", 0],
        "filters.probe_broadcast_keys_per_s": n / walls["broadcast", 1],
        "filters.probe_table_keys_per_s": n / walls["table", 1],
        "filters.probe_broadcast_self_s": walls["broadcast", 1] - prefix,
        "filters.probe_table_self_s": walls["table", 1] - prefix,
    }, failures


def pipeline_calls(spark, work_dir: str, keys: pa.Array) -> tuple[dict, list[str]]:
    """Checkpointed build over the first ``PIPELINE_BASE_KEYS`` keys, then
    an update with a delta of as many next keys as members (1% in all).

    The pair runs twice into fresh run dirs; the second, warm pair is
    timed."""
    base = keys.slice(0, PIPELINE_BASE_KEYS)
    half = PIPELINE_DELTA_KEYS // 2
    delta = pa.concat_arrays([keys.slice(PIPELINE_BASE_KEYS, half),
                              keys.slice(0, PIPELINE_DELTA_KEYS - half)])
    base_src = os.path.join(work_dir, "base_src")
    delta_src = os.path.join(work_dir, "delta_src")
    gen.write_parts(pa.table({"key": base}), base_src)
    gen.write_parts(pa.table({"key": delta}), delta_src)

    for rnd in range(2):
        base_run = os.path.join(work_dir, f"base{rnd}")
        t = time.perf_counter()
        built, _ = build_xor_filter_checkpointed(
            spark.read.parquet(base_src), "key", base_run,
            num_shards=NUM_SHARDS, width=WIDTH, input_token="base",
            jvm_digests=True)
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        updated, met = update_xor_filter_checkpointed(
            spark.read.parquet(delta_src), "key", base_run,
            os.path.join(work_dir, f"update{rnd}"), input_token="delta")
        update_s = time.perf_counter() - t

    pdf = key_digests_jvm(spark.read.parquet(delta_src), "key").toPandas()
    member = updated.contains_digests(
        pdf["d0"].to_numpy(dtype=np.int64).view(np.uint64),
        pdf["d1"].to_numpy(dtype=np.int64).view(np.uint64))
    failures = (
        gates.equals("pipeline base n_keys", built.metrics["n_keys"],
                     len(pc.unique(base)))
        + gates.equals("pipeline updated n_keys", updated.metrics["n_keys"],
                       len(pc.unique(pa.concat_arrays([base, delta]))))
        + gates.all_members("pipeline delta keys", member)
    )
    up = met["update"]
    out = {
        "pipeline.build_keys_per_s": PIPELINE_BASE_KEYS / build_s,
        "pipeline.update_delta_keys_per_s": PIPELINE_DELTA_KEYS / update_s,
        **{f"pipeline.stage_wall_s.{s}": met[s]["wall_sec"]
           for s in ("digests", "shards", "filter")},
        "pipeline.shards_rebuilt_ratio": up["shards_rebuilt"] / up["shards_total"],
    }
    return out, failures
