"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Prints one detail line (host record, every
end-to-end figure by the names in perfbench/README.md, BASELINE rows side
by side) and, last, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Exits non-zero, printing no result, when the
package cannot be imported or no job succeeds.
"""

from __future__ import annotations

import time

T_LAUNCH = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: end-to-end metrics, measured with tracing off; every workload emits
#: all of them
E2E_UNITS = {
    "setup_s": "s",
    "latency_norm_s_p50": "s",
    "output_bytes_per_row": "B/row",
    "python_peak_rss_mb": "MB",
}

#: per-layer metrics of the traced run; a workload that does not enter a
#: layer reports 0 for it (that layer did no work)
LAYER_UNITS = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "xlsx.writer.serialize_s": "s",
    "xlsx.writer.deflate_write_s": "s",
    "xlsx.writer.close_s": "s",
    "xlsx.writer.xml_bytes_per_row": "B/row",
    "xlsx.writer.file_bytes_per_row": "B/row",
    "xlsx.writer.rss_growth_mb": "MB",
    "xlsx.reader.open_s": "s",
    "xlsx.reader.inflate_s": "s",
    "xlsx.reader.scan_s": "s",
    "xlsx.reader.schema_infer_s": "s",
    "xlsx.reader.rss_growth_mb": "MB",
    **{
        f"spark.{phase}.{k}": u
        for phase in ("write", "read")
        for k, u in (
            ("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("tasks", "count"),
            ("task_max_over_median", "ratio"), ("shuffle_bytes", "B"),
            ("python_bytes", "B"), ("cpu_share", "ratio"),
        )
    },
    "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.source_s_p50": "s",
    "streaming.planning_s_p50": "s",
    "streaming.commit_s_p50": "s",
    "streaming.batches": "count",
    "streaming.backlog_files_max": "count",
    "streaming.idle_share": "ratio",
    "generator.late_s_max": "s",
    "trace.overhead_s": "s",
}

#: the reference's single-thread figures (BASELINE.md), shown for
#: information next to ours; they gate nothing
BASELINE = {
    "write_rows_per_s_per_core": (42_000, "BASELINE row 1"),
    "write_memory_mb": (2.7, "BASELINE row 2"),
    "read_rows_per_s_per_core": (50_000, "BASELINE row 6"),
    "read_memory_mb": (12.0, "BASELINE row 7"),
}


def _prepare_env(work: str) -> None:
    """Confine every file the run writes to ``work`` inside the checkout,
    and make the package importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _fs_type(path: str) -> str:
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


def host_record(cores: int, driver_mem: str, work: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=60
        ).stderr.splitlines()
        java = next((line for line in java if "version" in line), "unknown")
    except (OSError, subprocess.SubprocessError):
        java = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": cores,
        "driver_memory": driver_mem,
        "scratch_fs": _fs_type(os.path.realpath(work)),
        "java": java,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "OPENBLAS_CORETYPE": os.environ.get("OPENBLAS_CORETYPE", "unset"),
    }


def _baseline_rows(detail: dict) -> dict:
    ours = {
        "write_rows_per_s_per_core": detail.get("write_rows_per_s_per_core"),
        "read_rows_per_s_per_core": detail.get("read_rows_per_s_per_core"),
        "write_memory_mb": detail.get("writer_rss_growth_mb"),
        "read_memory_mb": detail.get("reader_rss_growth_mb"),
    }
    return {
        k: {"ours": ours[k], "reference": ref, "row": row}
        for k, (ref, row) in BASELINE.items()
        if ours[k] is not None
    }


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    try:
        import excelstream_spark  # noqa: F401  fails fast outside a checkout
    except ImportError:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)  # only if this run was its sole user
        raise

    from spans import Tracer

    cores = 1 if args.workload == "workbook_1t" else min(4, len(os.sched_getaffinity(0)))
    driver_mem = "4g"
    tracer = Tracer(bool(args.trace))
    ctx = workloads.Ctx(
        seed=args.seed, seconds=args.seconds, tracer=tracer, work=work,
        cores=cores, driver_mem=driver_mem, t_launch=T_LAUNCH,
    )
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        host = host_record(cores, driver_mem, work)
    finally:
        if tracer.enabled:
            tracer.dump(os.path.join(work_root, f"spans-{args.workload}-{tracer.run_id}.json"))
        shutil.rmtree(work, ignore_errors=True)

    from hostspeed import REF_NOMINAL_S, normalized
    from spans import median, timing

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "setup_s": normalized(res.setup_s, res.ref_s),
        "setup_wall_s": res.setup_s,
        "latency_s": timing(res.job_s),
        "latency_norm_s_p50": normalized(median(res.job_s), res.ref_s),
        "ref_s": {"nominal": REF_NOMINAL_S, **timing(res.ref_s)},
        "python_peak_rss_mb": res.python_peak_mb,
        "failed_ratio": res.failed / res.attempted,
        **res.detail,
    }
    detail["baseline"] = _baseline_rows(detail)
    print(json.dumps({"detail": detail}))
    if args.trace:
        values = {k: float(res.layers.get(k, 0.0)) for k in LAYER_UNITS}
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in values.items()}
    else:
        values = {
            "setup_s": normalized(res.setup_s, res.ref_s),
            "latency_norm_s_p50": normalized(median(res.job_s), res.ref_s),
            "output_bytes_per_row": res.detail.get("output_bytes_per_row"),
            "python_peak_rss_mb": res.python_peak_mb,
        }
        metrics = {
            k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items() if v is not None
        }
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
