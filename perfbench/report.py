"""Layer report of traced runs.

    python3 perfbench/run.py --workload olap_ingest --seed 1 --seconds 3 --trace 1 > olap.out
    python3 perfbench/report.py olap.out [corpus.out ...]

Each input is the saved stdout of a ``--trace 1`` run (or a baseline
file under ``perfbench/baseline/``). For every workload it prints each
layer's self time and share, ranked, with the end-to-end metric that
layer's time should move; then the dominant layer of each op class and
the other per-layer metrics.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import LAYER_TARGETS, PER_LAYER  # noqa: E402


def load(path: str) -> tuple[dict, dict]:
    """(detail record, per-layer metrics) from a traced run's output."""
    detail, result = {}, {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if obj.get("detail"):
                detail = obj
            elif "metrics" in obj:
                result = obj
    if not result:
        raise SystemExit(f"{path}: no result line")
    return detail, {k: v["value"] for k, v in result["metrics"].items()}


def report(path: str) -> str:
    detail, m = load(path)
    selfs = {k[len("layer."):-len(".self_s")]: v for k, v in m.items()
             if k.startswith("layer.") and k.endswith(".self_s")}
    total = sum(selfs.values()) or 1.0
    ranked = sorted(selfs.items(), key=lambda kv: -kv[1])
    trace = detail.get("trace", {})
    lines = [f"== {detail.get('workload', path)} (seed {detail.get('seed')}, "
             f"{trace.get('ops', '?')} ops, tracing overhead "
             f"{m.get('trace.overhead_ratio', 0.0):+.1%}, outputs match: "
             f"{trace.get('outputs_match')})",
             f"{'layer':24} {'self_s':>9} {'share':>7}  moves"]
    for layer, secs in ranked:
        if secs <= 0:
            continue
        lines.append(f"{layer:24} {secs:9.3f} {secs / total:7.1%}  "
                     f"{LAYER_TARGETS.get(layer, '')}")
    # session start is paid once per process, not per op
    real = [kv for kv in ranked if kv[0] not in ("bench", "session")]
    if real:
        lines.append(f"dominant layer: {real[0][0]}")
    for cls, layers in sorted(trace.get("class_layers", {}).items()):
        per = sorted(((v, k) for k, v in layers.items() if k != "bench"), reverse=True)
        if per and per[0][0] > 0:
            lines.append(f"  {cls:10} dominant {per[0][1]:22} "
                         + ", ".join(f"{k} {v:.3f}s" for v, k in per[:4] if v > 0))
    rest = [f"{k}={v:.4g} {PER_LAYER.get(k, '')}".rstrip()
            for k, v in sorted(m.items()) if v and not k.startswith("layer.")]
    lines.append("metrics: " + ", ".join(rest))
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    print("\n\n".join(report(p) for p in argv))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
