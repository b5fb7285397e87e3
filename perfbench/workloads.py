"""The three workloads.  Each one prepares its seeded inputs, sets up
once, measures for the requested seconds, checks every output outside the
timed regions and returns a :class:`Result`.

Timed regions hold only calls into the package, or into Spark on the
package's behalf.  Spans, REST reads and checks sit outside them.  In a
traced run, closed-loop jobs alternate untraced and traced, so the run
measures its own tracing overhead.
"""

from __future__ import annotations

import glob
import os
import threading
import time
import traceback
import zipfile
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from hostspeed import ref_seconds
from spans import Tracer, median, proc_mem_mb, reset_peak_rss, timing

#: rows of the lineitem-shaped sheet: ~520 B of worksheet XML per row, so
#: the sheet spans 5 of the reader's 8 MB XML chunks, and each of
#: xlsx_bulk's 4 part workbooks spans 2
SHEET_ROWS = 70_000
#: Arrow batch size fed to the single-thread writer
WRITE_BATCH_ROWS = 8_192
#: rows per streamed events file: ~70 kB of XML, far below one reader chunk
STREAM_FILE_ROWS = 1_000
#: one file is due every STREAM_PERIOD_S seconds: a batch takes ~0.9 s on
#: 4 quiet cores and ~1.5 s when the host is busy, and at a 1.25 s period
#: a busy spell already grew the backlog, so the rate keeps ~25% headroom
STREAM_PERIOD_S = 2.0
#: reference-task runs per core in each host speed probe: the
#: single-thread job probes its one core, a Spark job every core, the
#: stream only once before and once after its whole measured window
REF_REPS_1T = 3
REF_REPS_SPARK = 1
REF_REPS_STREAM = 3


@dataclass
class Ctx:
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    cores: int
    driver_mem: str
    t_launch: float
    #: seconds spent generating inputs, which the benchmark does and the
    #: program does not: taken out of the set-up time
    prep_s: float = 0.0


@dataclass
class Result:
    #: launch to ready, input generation excluded
    setup_s: float = 0.0
    job_s: list[float] = field(default_factory=list)
    #: the reference task's time in every probe run, before and after
    #: each job (hostspeed.normalized)
    ref_s: list[float] = field(default_factory=list)
    python_peak_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


def _attempt(res: Result, fn, *args):
    """Run one job together with its output check.  A raise or a failed
    check counts the job as failed (traceback on stderr) and the run goes
    on; returns the job's samples, or None."""
    res.attempted += 1
    try:
        out = fn(*args)
    except Exception:
        traceback.print_exc()
        out = None
    if not out:
        res.failed += 1
        return None
    return out


def _closed_loop(ctx: Ctx, res: Result, job) -> tuple[list[dict], list[dict], float]:
    """One client, one job at a time, until ``ctx.seconds`` have passed
    (at least one job; two in a traced run).  A traced run alternates
    untraced and traced jobs.  Returns the untraced and the traced jobs'
    samples and the traced-minus-untraced median job time, the tracing
    overhead."""
    tr = ctx.tracer
    plain, traced = [], []
    min_jobs = 2 if tr.enabled else 1
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline or res.attempted < min_jobs:
        tr.active = tr.enabled and len(plain) > len(traced)
        out = _attempt(res, job)
        if out:
            (traced if tr.active else plain).append(out)
    tr.active = False
    if not plain:
        raise RuntimeError("no job of this run succeeded")
    res.job_s = [s["job_s"] for s in plain]
    res.ref_s = [r for s in plain for r in s["ref_s"]]
    overhead = 0.0
    if traced:
        overhead = median([s["job_s"] for s in traced]) - median(res.job_s)
    return plain, traced, overhead


def _lineitem_input(ctx: Ctx, src: str):
    """Generate the lineitem-shaped table to parquet; returns its digest."""
    t0 = time.perf_counter()
    table = gen.lineitem(ctx.seed, SHEET_ROWS)
    pq.write_table(table, src)
    want = checks.table_digest(table)
    ctx.prep_s += time.perf_counter() - t0
    return want


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def _since_launch(ctx: Ctx) -> float:
    """Seconds from process launch to now, input generation excluded."""
    return time.perf_counter() - ctx.t_launch - ctx.prep_s


# -- workbook_1t: the codec alone, one thread ------------------------------

def _write_sheet(path: str, batches, schema, tr: Tracer) -> int:
    """Every batch through batch_to_rows_xml + WorkbookWriter into one
    sheet; returns the XML bytes produced."""
    from excelstream_spark.sources.xlsx import WorkbookWriter
    from excelstream_spark.sources.xlsx.batch_write import batch_to_rows_xml

    xml_bytes = 0
    wb = WorkbookWriter(path)
    wb.add_sheet("Sheet1")
    wb.write_header(schema.names)
    for b in batches:
        with tr.span("xlsx.writer.serialize"):
            xml = batch_to_rows_xml(b, schema, wb.next_row_index)
        with tr.span("xlsx.writer.deflate_write"):
            wb.write_rows_xml(xml, b.num_rows)
        xml_bytes += len(xml)
    with tr.span("xlsx.writer.close"):
        wb.close()
    return xml_bytes


def _read_sheet(path: str, schema, tr: Tracer) -> int:
    """The sheet back through WorkbookReader + BatchSheetReader.batches(),
    each batch dropped as soon as it is counted; returns the rows read."""
    from excelstream_spark.sources.xlsx import WorkbookReader
    from excelstream_spark.sources.xlsx.batch_scan import BatchSheetReader

    with tr.span("xlsx.reader.open"):
        wb = WorkbookReader(path)
    with wb, tr.span("xlsx.reader.scan"):
        return sum(b.num_rows for b in BatchSheetReader(wb, 0, schema, header=True).batches())


def _sheet_digest(path: str, schema):
    """Order-insensitive digest of every row the reader returns."""
    from excelstream_spark.sources.xlsx import WorkbookReader
    from excelstream_spark.sources.xlsx.batch_scan import BatchSheetReader

    digests: list[bytes] = []
    with WorkbookReader(path) as wb:
        for batch in BatchSheetReader(wb, 0, schema, header=True).batches():
            digests.extend(checks.row_digests(pa.Table.from_batches([batch])))
    return checks.digest_of(digests, schema.names)


def _zip_entries(path: str) -> list[tuple[str, int, int]]:
    """(name, CRC-32, size) of every uncompressed entry of a workbook."""
    with zipfile.ZipFile(path) as z:
        return [(i.filename, i.CRC, i.file_size) for i in z.infolist()]


def _part_entries(out_dir: str) -> list[tuple[str, int, int]]:
    """The entries of every part workbook in ``out_dir``, sorted: part
    file names differ from job to job, their contents must not."""
    return sorted(e for p in glob.glob(f"{out_dir}/*.xlsx") for e in _zip_entries(p))


def _inflate_only(path: str) -> None:
    """Stream the sheet entry through the zip inflater, parsing nothing."""
    from excelstream_spark.sources.xlsx import WorkbookReader

    with WorkbookReader(path) as wb, wb.open_entry(wb.resolve_sheet(0)) as fh:
        while fh.read(8 << 20):
            pass


def workbook_1t(ctx: Ctx) -> Result:
    from pyspark.sql.pandas.types import from_arrow_schema

    tr = ctx.tracer
    src = os.path.join(ctx.work, "lineitem.parquet")
    want = _lineitem_input(ctx, src)

    res = Result()
    with tr.span("tables.load"):
        batches = pq.read_table(src).to_batches(max_chunksize=WRITE_BATCH_ROWS)
        schema = from_arrow_schema(batches[0].schema)
    tr.active = False  # the first job is set-up, not a traced job

    path = os.path.join(ctx.work, "sheet.xlsx")
    #: entries of the first workbook written, once its read-back matched
    verified: list = []

    def output_ok(rows_read: int) -> bool:
        """Every row came back; the first workbook's read-back equals the
        generated table, and every later workbook holds byte-identical
        uncompressed entries (same CRC-32 and size)."""
        if rows_read != SHEET_ROWS:
            return False
        entries = _zip_entries(path)
        if not verified:
            if _sheet_digest(path, schema) != want:
                return False
            verified.append(entries)
        return entries == verified[0]

    def run():
        """One write and read-back.  VmHWM is reset before each phase, and
        nothing but the package's calls runs between a reset and its
        reading."""
        rss0 = proc_mem_mb()["VmRSS"]
        reset_peak_rss()
        xml_bytes, w = _timed(_write_sheet, path, batches, schema, tr)
        hwm_w = proc_mem_mb()["VmHWM"]
        rss1 = proc_mem_mb()["VmRSS"]
        reset_peak_rss()
        rows_read, r = _timed(_read_sheet, path, schema, tr)
        hwm_r = proc_mem_mb()["VmHWM"]
        return rows_read, {
            "job_s": w + r, "write_s": w, "read_s": r, "xml_bytes": xml_bytes,
            "rss_w": hwm_w - rss0, "rss_r": hwm_r - rss1, "peak": max(hwm_w, hwm_r),
        }

    cpus = sorted(os.sched_getaffinity(0))

    def job():
        # each job runs on the next core in turn: on a shared host one core
        # can run ~30% slower than the others for tens of seconds, and the
        # median over jobs should not be that one core's
        cpu = cpus[res.attempted % len(cpus)]
        os.sched_setaffinity(0, {cpu})
        ref0 = ref_seconds([cpu], REF_REPS_1T)
        rows_read, sample = run()
        sample["ref_s"] = ref0 + ref_seconds([cpu], REF_REPS_1T)
        return sample if output_ok(rows_read) else None

    # the first job ends the set-up; it is untimed, since it runs ~25%
    # slower while the allocator grows its arenas
    rows_read, _ = run()
    res.setup_s = _since_launch(ctx)
    if not output_ok(rows_read):
        raise RuntimeError("the first workbook failed its read-back check")
    try:
        samples, traced, overhead = _closed_loop(ctx, res, job)
    finally:
        os.sched_setaffinity(0, cpus)
    rows = SHEET_ROWS
    write_s = [s["write_s"] for s in samples]
    read_s = [s["read_s"] for s in samples]
    file_bytes = os.path.getsize(path)
    res.python_peak_mb = max(s["peak"] for s in samples + traced)
    res.detail = {
        "rows": rows,
        "reader_chunks": -(-samples[0]["xml_bytes"] // (8 << 20)),
        "write_rows_per_s_per_core": rows / median(write_s),
        "read_rows_per_s_per_core": rows / median(read_s),
        "output_bytes_per_row": file_bytes / rows,
        "writer_rss_growth_mb": max(s["rss_w"] for s in samples),
        "reader_rss_growth_mb": max(s["rss_r"] for s in samples),
        "write_s": timing(write_s),
        "read_s": timing(read_s),
    }
    if not tr.enabled:
        return res
    tr.active = True
    with tr.span("xlsx.reader.inflate"):
        _inflate_only(path)
    tr.active = False
    n = len(traced) or 1
    res.layers = {
        "xlsx.writer.serialize_s": tr.total("xlsx.writer.serialize") / n,
        "xlsx.writer.deflate_write_s": tr.total("xlsx.writer.deflate_write") / n,
        "xlsx.writer.close_s": tr.total("xlsx.writer.close") / n,
        "xlsx.writer.xml_bytes_per_row": samples[0]["xml_bytes"] / rows,
        "xlsx.writer.file_bytes_per_row": file_bytes / rows,
        "xlsx.writer.rss_growth_mb": max((s["rss_w"] for s in traced), default=0.0),
        "xlsx.reader.open_s": tr.total("xlsx.reader.open") / n,
        "xlsx.reader.inflate_s": tr.total("xlsx.reader.inflate"),
        "xlsx.reader.scan_s": tr.total("xlsx.reader.scan") / n - tr.total("xlsx.reader.inflate"),
        "xlsx.reader.rss_growth_mb": max((s["rss_r"] for s in traced), default=0.0),
        "tables.load_s": tr.total("tables.load"),
        "trace.overhead_s": overhead,
    }
    return res


# -- Spark workloads --------------------------------------------------------

def _spark_setup(ctx: Ctx, res: Result, load, first_job):
    """Build the session (xlsx registered), start polling its memory, load
    the inputs and run the first untimed job; ``res.setup_s`` counts from
    process launch to the end of that job.  Returns the host, the memory
    poller, the inputs and what ``first_job`` returned; on failure the JVM
    is shut down before the error propagates."""
    from sparkside import SparkHost, TreeMemory

    tr = ctx.tracer
    host = SparkHost(ctx.cores, ctx.driver_mem)
    mem = None
    try:
        with tr.span("session.start"):
            spark = host.start()
        mem = TreeMemory(host)
        mem.start()
        with tr.span("tables.load"):
            inputs = load(spark)
        tr.active = False  # the first job is set-up, not a traced job
        out = first_job(spark, inputs)
        res.setup_s = _since_launch(ctx)
    except BaseException:
        if mem is not None:
            mem.finish()
        host.shutdown()
        raise
    return host, mem, inputs, out


def _phase(host, tr: Tracer, name: str, fn, *args):
    """Time ``fn`` inside a span; when traced, also keep Spark's stage and
    SQL metrics for the jobs it ran (read outside the timed region)."""
    mark = host.mark() if tr.active else None
    with tr.span(name):
        out, took = _timed(fn, *args)
    if tr.active:
        tr.phases.setdefault(name, []).append(host.phase_metrics(mark))
    return out, took


def _phase_layers(tr: Tracer, name: str, keys) -> dict:
    """Per-job means of one phase's REST metrics over the traced jobs."""
    runs = tr.phases.get(name, [])
    return {
        f"{name}.{k}": (sum(r[k] for r in runs) / len(runs) if runs else 0.0)
        for k in keys
    }


_PHASE_KEYS = ("run_s", "cpu_s", "gc_s", "tasks", "task_max_over_median",
               "shuffle_bytes", "python_bytes", "cpu_share")


def _common_spark_layers(tr: Tracer) -> dict:
    return {
        "session.start_s": tr.total("session.start"),
        "tables.load_s": tr.total("tables.load"),
    }


def xlsx_bulk(ctx: Ctx) -> Result:
    tr = ctx.tracer
    src = os.path.join(ctx.work, "lineitem.parquet")
    want = _lineitem_input(ctx, src)
    out = os.path.join(ctx.work, "xlsx_out")

    def write(df):
        df.repartition(ctx.cores).write.format("xlsx").mode("overwrite").save(out)

    def read(spark):
        with tr.span("xlsx.reader.schema_infer"):
            df = spark.read.format("xlsx").load(out)
        df.write.format("noop").mode("overwrite").save()
        return df

    def write_and_read(spark, df):
        """The first job; it starts the Python workers.  Returns the
        read-back DataFrame, checked once set-up has been timed."""
        write(df)
        return read(spark)

    res = Result()
    host, mem, df, back = _spark_setup(
        ctx, res, lambda spark: spark.read.parquet(src), write_and_read
    )
    spark = host.spark
    cpus = sorted(os.sched_getaffinity(0))
    try:
        # the first job's read-back must equal the generated table; every
        # later job must write parts holding byte-identical uncompressed
        # entries (same CRC-32 and size), so it reads what the first read.
        # A full read-back per job would take as long as the job itself
        # and halve the jobs a run measures.
        if checks.table_digest(back.toArrow()) != want:
            raise RuntimeError("the first job failed its read-back check")
        verified = _part_entries(out)

        def job():
            ref0 = ref_seconds(cpus, REF_REPS_SPARK)
            _, w = _phase(host, tr, "spark.write", write, df)
            _, r = _phase(host, tr, "spark.read", read, spark)
            ref1 = ref_seconds(cpus, REF_REPS_SPARK)
            if _part_entries(out) != verified:
                return None
            return {"job_s": w + r, "write_s": w, "read_s": r, "ref_s": ref0 + ref1}

        samples, _, overhead = _closed_loop(ctx, res, job)
        file_bytes = sum(os.path.getsize(f) for f in glob.glob(f"{out}/*.xlsx"))
    finally:
        mem.finish()
        host.shutdown()
    rows = SHEET_ROWS
    write_s = [s["write_s"] for s in samples]
    read_s = [s["read_s"] for s in samples]
    res.python_peak_mb = mem.python_peak_mb
    res.detail = {
        "rows": rows,
        "write_rows_per_s_per_core": rows / median(write_s) / ctx.cores,
        "read_rows_per_s_per_core": rows / median(read_s) / ctx.cores,
        "output_bytes_per_row": file_bytes / rows,
        "jvm_peak_rss_mb": mem.jvm_hwm,
        "write_s": timing(write_s),
        "read_s": timing(read_s),
    }
    if tr.enabled:
        n_read = len(tr.phases.get("spark.read", [])) or 1
        res.layers = {
            **_phase_layers(tr, "spark.write", _PHASE_KEYS),
            **_phase_layers(tr, "spark.read", _PHASE_KEYS),
            "xlsx.reader.schema_infer_s": tr.total("xlsx.reader.schema_infer") / n_read,
            "xlsx.writer.file_bytes_per_row": file_bytes / rows,
            **_common_spark_layers(tr),
            "trace.overhead_s": overhead,
        }
    return res


# -- xlsx_stream: open loop ---------------------------------------------------

class _Generator(threading.Thread):
    """Open-loop source: writes events file ``first + i`` when it falls
    due at ``start + (i + 1) * period``, whatever the sink is doing, and
    records each due time, how late the write landed, and the backlog of
    due files not yet committed."""

    def __init__(self, in_dir: str, out_dir: str, seed: int, first: int, seconds: float):
        super().__init__(daemon=True)
        self.in_dir, self.out_dir = in_dir, out_dir
        self.seed, self.first, self.seconds = seed, first, seconds
        self.due: dict[int, float] = {}
        self.late: list[float] = []
        self.backlog: list[int] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            start = time.time()
            n = max(1, int(self.seconds / STREAM_PERIOD_S))
            for i in range(n):
                due = start + (i + 1) * STREAM_PERIOD_S
                time.sleep(max(0.0, due - time.time()))
                idx = self.first + i
                gen.write_parquet_atomic(
                    gen.events(self.seed, idx, STREAM_FILE_ROWS),
                    os.path.join(self.in_dir, f"events-{idx:05d}.parquet"),
                )
                self.late.append(time.time() - due)
                self.due[idx] = due
                committed = len(_committed_batches(self.out_dir)) - self.first
                self.backlog.append(len(self.due) - committed)
        except Exception as e:  # re-raised by the caller after join()
            self.error = e


def _open_stream(spark, in_dir: str):
    """readStream over the events directory, one file per trigger."""
    from excelstream_spark.streaming.pipelines import _open_events_stream

    probe = sorted(glob.glob(f"{in_dir}/events-*.parquet"))[0]
    stream = _open_events_stream(spark, in_dir, probe, maxFilesPerTrigger=1)
    return stream.select("event_id", "user_id", "event_type", "value", "ts")


def _committed_batches(out_dir: str) -> dict[int, list[str]]:
    """batchId -> part workbooks the sink committed for it."""
    by_batch: dict[int, list[str]] = {}
    for p in glob.glob(f"{out_dir}/batch-*-part-*.xlsx"):
        by_batch.setdefault(int(os.path.basename(p)[6:14]), []).append(p)
    return by_batch


def _read_parts(paths: list[str]) -> pa.Table:
    from excelstream_spark.sources.xlsx import WorkbookReader
    from excelstream_spark.sources.xlsx.batch_scan import BatchSheetReader
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ])
    batches = []
    for p in paths:
        with WorkbookReader(p) as wb:
            batches.extend(BatchSheetReader(wb, 0, schema, header=True).batches())
    return pa.Table.from_batches(batches, schema=batches[0].schema)


def _commit_times(progress: list[dict]) -> dict[int, float]:
    """batchId -> wall time at which its trigger, sink commit included,
    ended."""
    out = {}
    for p in progress:
        start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start_s = start.replace(tzinfo=timezone.utc).timestamp()
        out[p["batchId"]] = start_s + p["durationMs"].get("triggerExecution", 0) / 1e3
    return out


def xlsx_stream(ctx: Ctx) -> Result:
    tr = ctx.tracer
    in_dir = os.path.join(ctx.work, "events_in")
    out_dir = os.path.join(ctx.work, "xlsx_stream_out")
    ckpt = os.path.join(ctx.work, "ckpt")
    t0 = time.perf_counter()
    os.makedirs(in_dir)
    gen.write_parquet_atomic(
        gen.events(ctx.seed, 0, STREAM_FILE_ROWS), f"{in_dir}/events-00000.parquet"
    )
    ctx.prep_s += time.perf_counter() - t0

    def first_job(spark, stream):
        """writeStream.format("xlsx") started, and file 0 committed: the
        first batch starts the Python workers."""
        query = (
            stream.writeStream.format("xlsx")
            .option("checkpointLocation", ckpt)
            .option("path", out_dir)
            .start()
        )
        try:
            query.processAllAvailable()
        except BaseException:
            query.stop()
            raise
        return query

    res = Result()
    host, mem, _, query = _spark_setup(
        ctx, res, lambda spark: _open_stream(spark, in_dir), first_job
    )
    cpus = sorted(os.sched_getaffinity(0))
    try:
        ref0 = ref_seconds(cpus, REF_REPS_STREAM)
        t_start = time.time()
        g = _Generator(in_dir, out_dir, ctx.seed, 1, ctx.seconds)
        g.start()
        g.join()
        if g.error is not None:
            raise g.error
        query.processAllAvailable()
        t_end = time.time()
        res.ref_s = ref0 + ref_seconds(cpus, REF_REPS_STREAM)
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0 and p["batchId"] > 0]
        query.stop()
    finally:
        mem.finish()
        host.shutdown()

    # check: the committed part workbooks hold exactly the generated rows,
    # none twice, and every due file was committed
    by_batch = {b: _read_parts(paths) for b, paths in _committed_batches(out_dir).items()}
    generated = [gen.events(ctx.seed, i, STREAM_FILE_ROWS) for i in range(1 + len(g.due))]
    want = checks.table_digest(pa.concat_tables(generated).drop_columns(["props"]))
    back = pa.concat_tables(by_batch.values()) if by_batch else None
    res.attempted += 1
    if back is None or checks.table_digest(back) != want:
        res.failed += 1
    # latency of each file: due time -> end of the trigger that committed
    # the batch holding its rows
    commits = _commit_times(progress)
    file_batch = {
        f: b
        for b, t in by_batch.items()
        for f in set((t.column("event_id").to_numpy() // STREAM_FILE_ROWS).tolist())
    }
    for idx, due in g.due.items():
        res.attempted += 1
        b = file_batch.get(idx)
        if b not in commits:
            res.failed += 1
            continue
        res.job_s.append(commits[b] - due)
    if not res.job_s:
        raise RuntimeError("no streamed file was committed")

    res.python_peak_mb = mem.python_peak_mb
    out_files = glob.glob(f"{out_dir}/batch-*-part-*.xlsx")
    bytes_per_row = sum(os.path.getsize(p) for p in out_files) / back.num_rows
    res.detail = {
        "files": len(g.due),
        "rows_per_file": STREAM_FILE_ROWS,
        "period_s": STREAM_PERIOD_S,
        "stream_latency_s": timing(res.job_s),
        "output_bytes_per_row": bytes_per_row,
        "jvm_peak_rss_mb": mem.jvm_hwm,
    }
    if tr.enabled:
        def p50(keys):
            vals = [sum(p["durationMs"].get(k, 0) for k in keys) / 1e3 for p in progress]
            return median(vals) if vals else 0.0

        busy = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3
        res.layers = {
            "streaming.trigger_s_p50": p50(("triggerExecution",)),
            "streaming.add_batch_s_p50": p50(("addBatch",)),
            "streaming.source_s_p50": p50(("latestOffset", "getBatch")),
            "streaming.planning_s_p50": p50(("queryPlanning",)),
            "streaming.commit_s_p50": p50(("walCommit", "commitOffsets")),
            "streaming.batches": float(len(progress)),
            "streaming.backlog_files_max": float(max(g.backlog, default=0)),
            "streaming.idle_share": max(0.0, 1.0 - busy / (t_end - t_start)),
            "generator.late_s_max": max(g.late, default=0.0),
            "xlsx.writer.file_bytes_per_row": bytes_per_row,
            **_common_spark_layers(tr),
            # nothing is traced inside the open loop's timed path
            "trace.overhead_s": 0.0,
        }
    return res


WORKLOADS = {
    "workbook_1t": workbook_1t,
    "xlsx_bulk": xlsx_bulk,
    "xlsx_stream": xlsx_stream,
}
