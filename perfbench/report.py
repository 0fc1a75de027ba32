"""Turn a worker's measurements into the printed metrics."""

from __future__ import annotations

from perfbench.stats import summarize

SELF_LAYERS = ("streaming", "sources.versioned", "operators", "spark.exec")


def end_to_end(result: dict) -> tuple[dict, dict]:
    """End-to-end values and the latency summary behind them."""
    lat = summarize(result["samples_ms"])
    values = {
        "setup_s": result["setup_s"],
        "latency_ms_p50": lat["p50"],
        "latency_ms_tail": lat["tail"],
        "throughput_per_s": result["timed_units"] / result["window_s"],
        "peak_rss_mb": result["peak_rss_mb"],
        "error_rate": result["failed"] / max(1, result["attempted"]),
    }
    return values, lat


def per_layer(result: dict) -> dict:
    """Per-layer values of a traced run; layers a workload does not
    exercise read 0."""
    layers = dict(result["layers"])
    traced, untraced = result["traced_samples_ms"], result["samples_ms"]
    layers["session.start_s"] = result["session_start_s"]
    layers["session.warmup_s"] = result["warmup_s"]
    layers["log.error_frames"] = result["log"]["count"]
    if traced and untraced:
        layers["trace.latency_ms_p50"] = summarize(traced)["p50"]
        layers["trace.overhead_ms"] = layers["trace.latency_ms_p50"] - summarize(untraced)["p50"]
    ops = max(1, result["traced_ops"])
    for layer in SELF_LAYERS:
        layers[f"{layer}.self_ms"] = sum(
            ms for name, ms in result["self_ms"].items()
            if name == layer or name.startswith(layer + ".")
        ) / ops
    wall = layers.get("trace.op_wall_ms")
    if wall:
        if "streaming.tick_ms" in layers:
            parts = layers["streaming.start_ms"] + layers["streaming.read_ms"] + sum(
                v for k, v in layers.items() if k.startswith("spark.stream.")
            )
        else:
            parts = layers["operators.build_ms"] + layers["spark.exec.ms"]
        layers["trace.accounted_ratio"] = parts / wall
    return layers


def build_report(spec: dict, result: dict, trace: bool) -> tuple[list[str], dict]:
    """Human-readable lines and the final JSON object."""
    e2e, lat = end_to_end(result)
    correct = result["failed"] == 0 and (trace or lat["tail"] is not None)
    lines = [
        f"latency samples: {lat['n']} timed operations of {lat['kinds']} kinds "
        f"over {result['window_s']:.1f} s: " + " ".join(f"{ms:.0f}" for _, ms in result["samples_ms"]),
        f"latency_ms_tail is p{lat['tail_pct']} with {lat['beyond']} samples beyond it",
        f"error_rate = {e2e['error_rate']:.4f} ratio "
        f"({result['failed']} of {result['attempted']} operations failed)",
        f"log.error_frames = {result['log']['count']} count (classes: {result['log']['classes']})",
    ]
    lines.append(
        f"peak_rss_mb = {result['peak_rss_mb']:.6g} MB (worker Python "
        f"{result['python_rss_mb']:.0f} MB + JVM {result['jvm_rss_mb']:.0f} MB)"
    )
    lines.append("warm-up ms: " + " ".join(f"{ms:.0f}" for ms in result["warmup_ms"]))
    lines += [f"error: {e}" for e in result["errors"]]
    if trace:
        values, wanted = per_layer(result), spec["per_layer"]
    else:
        values, wanted = e2e, spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0)
        if v is None:
            correct = False
            v = 0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        lines.append(f"{m['name']} = {v:.6g} {m['unit']}")
    return lines, {
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }
