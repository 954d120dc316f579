"""Per-layer metrics of a traced run, named ``<layer>.<metric>``.

Every layer gets the STANDARD figures; layers that scan or shuffle also
get input and shuffle bytes; a few layers get counts of the work they
did. Values are means over the run's traced operations of the
workload's kind (idle ticks excluded), except ``session.*``, which
describe the run's one set-up, and ``run.*``, which describe the run.
A layer that does no work on a workload reads 0, except the write
layer, which only workloads that write report.
"""

from __future__ import annotations

import statistics

from perfbench.trace import LAYERS, layer_metrics

STANDARD = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "executor_busy_s": "s", "parallelism": "ratio",
}
BYTES = {"input_bytes": "B", "shuffle_write_bytes": "B"}
BYTES_LAYERS = (
    "streaming.file_source", "sources.io.read", "operators.cleaning",
    "operators.aggregates", "sources.io.write", "operators.dedup",
    "operators.cache_scope", "plans",
)
COUNTS = {
    "sources.drive_source.files": "count",
    "sources.drive_source.bytes": "B",
    "compress.bytes_in": "B",
    "compress.bytes_out": "B",
    "streaming.file_source.ledger_files": "count",
    "sources.io.read.scan_amplification": "ratio",
    "sources.io.read.bytes_per_new_byte": "ratio",
    "sources.io.write.bytes": "B",
    "sources.io.write.files": "count",
    "sources.io.write.bytes_per_input_byte": "ratio",
    "operators.dedup.pairs": "count",
    "operators.cache_scope.materializations": "count",
}
RUN = {
    "run.traced_ops": "count",
    "run.op_p50_s": "s",
    "run.tracing_overhead": "ratio",
    "run.idle_tick_p50_s": "s",
    "run.first_op_s": "s",
    "run.peak_rss_mb": "MB",
}
# Jobs of these layers scan the loan CSVs; their input bytes are what
# sources.io.read reports (a scan runs inside the job that consumes it).
CSV_READERS = (
    "sources.io.read", "operators.cleaning", "operators.aggregates",
    "sources.io.write", "plans",
)


def metric_units(writes: bool) -> dict[str, str]:
    """Every per-layer metric name -> unit, in a fixed order; without
    the write layer's when ``writes`` is false."""
    out = {}
    for layer in LAYERS:
        out.update({f"{layer}.{k}": u for k, u in STANDARD.items()})
        if layer in BYTES_LAYERS:
            out.update({f"{layer}.{k}": u for k, u in BYTES.items()})
    out.update(COUNTS)
    out.update(RUN)
    if not writes:
        out = {k: u for k, u in out.items() if not k.startswith("sources.io.write.")}
    return out


def op_values(op, spans, cores: int, dedup_pairs: int) -> dict[str, float]:
    """One traced operation's per-layer values."""
    lm = layer_metrics(spans, cores)
    vals = {f"{layer}.{k}": v for layer, m in lm.items() for k, v in m.items()}
    csv_read = sum(lm[layer]["input_bytes"] for layer in CSV_READERS)
    in_bytes = op.counts.get("input_csv_bytes", 0)
    new_bytes = op.counts.get("new_csv_bytes", 0)
    vals["sources.io.read.input_bytes"] = csv_read if in_bytes else 0.0
    vals["sources.io.read.scan_amplification"] = csv_read / in_bytes if in_bytes else 0.0
    vals["sources.io.read.bytes_per_new_byte"] = csv_read / new_bytes if new_bytes else 0.0
    vals["operators.dedup.pairs"] = dedup_pairs
    vals["operators.cache_scope.materializations"] = sum(
        1 for s in spans if s.layer == "operators.cache_scope" and s.job is None
    )
    for k in COUNTS:
        if k in op.counts:
            vals[k] = op.counts[k]
    return vals


def add_op_counts(op, tracer, cores: int) -> None:
    """Attach the per-layer values of a just-traced ``op`` to it.
    Counting near-duplicate pairs runs one extra job outside any span."""
    pair_frames = tracer.results.pop("operators.dedup.minhash_lsh_pairs", [])
    pairs = sum(df.count() for df in pair_frames)
    tracer.results.clear()
    if op.trace is not None:
        op.counts["layers"] = op_values(op, tracer.op_spans(op.trace), cores, pairs)


def per_layer(
    timed, tracer, cores: int, first_op_s: float, peak_rss_mb: float,
    writes: bool,
) -> dict[str, tuple[float, str]]:
    """Run-level per-layer metrics: name -> (value, unit)."""
    units = metric_units(writes)
    traced = [o for o in timed if o.kind == "op" and "layers" in o.counts]
    vals = {k: 0.0 for k in units}
    for k in vals:
        got = [o.counts["layers"].get(k, 0.0) for o in traced]
        if got:
            vals[k] = statistics.fmean(got)
    setup = layer_metrics(tracer.op_spans("setup"), cores)["session"]
    for k in STANDARD:
        vals[f"session.{k}"] = setup[k]
    primary_traced = [o.seconds for o in traced]
    primary_plain = [o.seconds for o in timed if o.kind == "op" and o.trace is None]
    idle = [o.seconds for o in timed if o.kind == "idle"]
    vals["run.traced_ops"] = len(traced)
    vals["run.op_p50_s"] = statistics.median(primary_traced) if traced else 0.0
    if primary_traced and primary_plain:
        vals["run.tracing_overhead"] = (
            statistics.median(primary_traced) / statistics.median(primary_plain) - 1
        )
    vals["run.idle_tick_p50_s"] = statistics.median(idle) if idle else 0.0
    vals["run.first_op_s"] = first_op_s
    vals["run.peak_rss_mb"] = peak_rss_mb
    return {k: (vals[k], units[k]) for k in units}
