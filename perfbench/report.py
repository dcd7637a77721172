"""Human-readable lines printed before the benchmark's JSON result line."""

from __future__ import annotations

from perfbench.trace import SPAN_JOB_METRICS, SPAN_NAMES

_COLUMNS = ("calls", "self_s", "jobs", *SPAN_JOB_METRICS)


def _fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def print_layers(name: str, metrics: dict) -> None:
    """One row per span, then the run-wide per-layer metrics."""
    head = f"{'span':<24}" + "".join(f"{c:>20}" for c in _COLUMNS)
    print(f"{name} per-layer (traced run)")
    print(head)
    for span in SPAN_NAMES:
        cells = "".join(f"{_fmt(metrics[f'{span}.{c}'][0]):>20}" for c in _COLUMNS)
        print(f"{span:<24}{cells}")
    spans = {f"{s}.{c}" for s in SPAN_NAMES for c in _COLUMNS}
    for key, (value, unit) in metrics.items():
        if key not in spans:
            print(f"{name} {key} = {_fmt(value)} {unit}")
    wall = metrics["replay.apply_batch.wall_s"][0]
    if wall:
        share = (metrics["replay.driver_gap_s"][0] + metrics["merge.merge_batch.self_s"][0]) / wall
        print(f"{name} (driver_gap_s + merge.merge_batch.self_s) / apply wall = {share:.3f}")


def print_run(name: str, seed: int, setup: dict, res, metrics: dict, notes: list[str],
              traced: bool) -> None:
    print(
        f"{name} seed={seed}: {len(res.batch_s)} batches, {len(res.read_s)} reads, "
        f"{res.events} events in the untraced loop"
    )
    print(
        f"{name} setup: session {setup['session_s']:.3f} s + table build "
        f"{setup['table_build_s']:.3f} s (median) + warm-up {setup['warmup_s']:.3f} s"
    )
    for note in notes:
        print(f"{name} {note}")
    if traced:
        print_layers(name, metrics)
    else:
        for key, (value, unit) in metrics.items():
            print(f"{name} {key} = {_fmt(value)} {unit}")
