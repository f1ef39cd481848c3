"""Per-layer metrics of one traced measurement window.

Every value is per pass of the workload (a window total divided by its
number of complete passes) unless its name says otherwise, so layer
numbers add up against ``wall_s``. Layers are named after the
package's modules; ``spark`` is the engine under them.
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

import eventlog
from spans import INGESTS, IO_FUNCS, OPERATOR_MODULES

MB = 2**20


def _engine(prefix: str, t: eventlog.Totals, n: int, phase_wall_s: float, cpus: int) -> dict:
    return {
        f"{prefix}.jobs": (t.jobs / n, "count"),
        f"{prefix}.tasks": (t.tasks / n, "count"),
        f"{prefix}.cpu_s": (t.cpu_ns / 1e9 / n, "s"),
        f"{prefix}.gc_s": (t.gc_ms / 1e3 / n, "s"),
        f"{prefix}.shuffle_write_mb": (t.shuffle_write_bytes / MB / n, "MB"),
        f"{prefix}.shuffle_read_mb": (t.shuffle_read_bytes / MB / n, "MB"),
        f"{prefix}.fetch_wait_s": (t.fetch_wait_ms / 1e3 / n, "s"),
        f"{prefix}.spill_mb": (t.spill_bytes / MB / n, "MB"),
        f"{prefix}.scan_s": (t.scan_ms / 1e3 / n, "s"),
        # executor run time over the phase's wall time times cores
        f"{prefix}.util": (
            t.run_ms / 1e3 / (phase_wall_s * cpus) if phase_wall_s > 0 else 0.0, "ratio"
        ),
    }


def per_layer(samples, walls, tracer, log_path: str, cpus: int,
              state_mb: list[float], session_start_s: float) -> dict:
    n = len(walls)
    log = eventlog.parse_file(log_path)
    phase = {"build": eventlog.Totals(), "run": eventlog.Totals()}
    stream = eventlog.Totals()
    for group, totals in log.by_group.items():
        tag, _, rest = group.partition(":")
        if tag == "m":
            op, ph = rest.split(":")[1:]
            phase[ph].add(totals)
            if op.split(".")[0] in INGESTS:
                stream.add(totals)
    queries = [s for s in samples if s.op not in INGESTS]
    batches = [s for s in samples if s.op in INGESTS]

    out: dict[str, tuple[float, str]] = {"session.start_s": (session_start_s, "s")}
    per_pass_build = defaultdict(float)
    per_pass_run = defaultdict(float)
    for s in queries:
        per_pass_build[s.pass_no] += s.build_s
        per_pass_run[s.pass_no] += s.run_s
    out["queries.build_s"] = (median(per_pass_build.values()) if queries else 0.0, "s")
    out["queries.build_jobs"] = (phase["build"].jobs / n, "count")
    out["queries.run_s"] = (median(per_pass_run.values()) if queries else 0.0, "s")
    out["queries.run_jobs"] = ((phase["run"].jobs - stream.jobs) / n, "count")

    # outside spans: calls, self time and the jobs submitted while each
    # span was the innermost one open
    self_s = tracer.self_times()
    calls, secs, jobs = defaultdict(int), defaultdict(float), defaultdict(int)
    for sid, span in enumerate(tracer.spans):
        key = ".".join(span.name.split(".")[:2])  # io.<fn>, operators.<module>, streaming.<ingest>
        calls[key] += 1
        secs[key] += self_s[sid]
        jobs[key] += log.jobs_by_span.get(str(sid), 0)
    for key in [f"io.{f}" for f in IO_FUNCS] + [f"operators.{m}" for m in OPERATOR_MODULES]:
        out[f"{key}.calls"] = (calls[key] / n, "count")
        out[f"{key}.s"] = (secs[key] / n, "s")
        out[f"{key}.jobs"] = (jobs[key] / n, "count")

    out.update(_engine("spark.build", phase["build"], n,
                       sum(s.build_s for s in samples), cpus))
    out.update(_engine("spark.run", phase["run"], n,
                       sum(s.run_s for s in samples), cpus))

    both = eventlog.Totals()
    both.add(phase["build"])
    both.add(phase["run"])
    out["functions.py_in_mb"] = (both.py_in_bytes / MB / n, "MB")
    out["functions.py_out_mb"] = (both.py_out_bytes / MB / n, "MB")
    out["functions.py_s"] = (both.py_run_ms / 1e3 / n, "s")

    for name in INGESTS:
        lat = [s.run_s for s in batches if s.op == name]
        out[f"streaming.{name}.batch_s"] = (median(lat) if lat else 0.0, "s")
    out["streaming.batch_jobs"] = (stream.jobs / len(batches) if batches else 0.0, "count")
    out["streaming.state_mb"] = (max(state_mb) if state_mb else 0.0, "MB")
    return out
