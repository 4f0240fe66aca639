"""``scbf_io``: the storage round trip on a seeded 500k-row, 8-column table.

Each pass: (1) DataFrame -> SCBF v1, 8 files; (2) DataFrame -> SCBF v2,
range-partitioned on ``id`` into 8 files; (3) full scan of the v1 dataset;
(4) scan of the one small int32 column ``k`` through the ``columns`` read
option; (5) three v2 filter scans, each selecting the ``id`` range of one of
the eight v2 files (one eighth of the range, read from the files' footers).
The ``scbf`` and ``sources`` layers do almost all the work here.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import checks, datagen
from .harness import force, median, rchar

ROWS = 500_000
FILES = 8
PRUNED_SCANS = 3


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.scbf")))


def _stage(spark, tbl, path: str):
    """The table as a cached DataFrame of ``FILES`` partitions: one parquet
    file per slice, read back one file per partition (no shuffle)."""
    os.makedirs(path)
    step = -(-tbl.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(tbl.slice(i * step, step), os.path.join(path, f"{i}.parquet"))
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 40))  # never pack two files into one partition
    try:
        df = spark.read.parquet(path).cache()
        df.count()
        return df
    finally:
        spark.conf.set(key, old)


def _id_ranges(path: str, codec_v2) -> list[tuple[int, int]]:
    """(min, max) of ``id`` in each v2 file, from the footer statistics."""
    out = []
    for f in _files(path):
        col = next(c for c in codec_v2.read_meta(f)["columns"] if c["name"] == "id")
        out.append((col["stats"]["min"], col["stats"]["max"]))
    return out


class _Pass:
    """One pass's timings and job groups."""

    def __init__(self):
        self.t: dict[str, float] = {}
        self.loads: list[float] = []
        self.pruned: list[float] = []
        self.groups: dict[str, list[str]] = {}
        self.ranges: list[tuple[int, int]] = []
        self.window = (0.0, 0.0)


def _timed(ctx, p: _Pass, name: str, fn):
    with ctx.jobs.group(name) as gid, ctx.tracer.span(name) as sp:
        fn()
    p.groups.setdefault(name, []).append(gid)
    return sp["dur"]


def run(ctx) -> dict:
    spark, n = ctx.spark, ROWS
    from pyspark.sql import functions as F

    from custom_columnar_format_spark.scbf import codec, codec_v2

    tbl = datagen.scbf_table(ctx.seed, n)
    want_by_id = checks.by_id(tbl)
    df = _stage(spark, tbl, os.path.join(ctx.run_dir, "input"))
    want_digest = checks.spark_digest(df)
    want_k = checks.column_stats(tbl.column(datagen.PROJECTED_COLUMN).to_numpy())
    rng = np.random.default_rng(ctx.seed + 101)
    v1_dir, v2_dir = os.path.join(ctx.run_dir, "v1"), os.path.join(ctx.run_dir, "v2")

    def load(p: _Pass, path: str, **opts):
        reader = spark.read.format("scbf")
        for k, v in opts.items():
            reader = reader.option(k, v)
        with ctx.tracer.span("sources.load") as sp:
            out = reader.load(path)
        p.loads.append(sp["dur"])
        return out

    def one_pass(p: _Pass, slices: set[int]) -> None:
        p.t["write_v1"] = _timed(
            ctx, p, "sources.write_v1",
            lambda: df.write.format("scbf").mode("overwrite").save(v1_dir),
        )
        p.t["write_v2"] = _timed(
            ctx, p, "sources.write_v2",
            lambda: df.repartitionByRange(FILES, "id")
            .write.format("scbf").option("version", "2").mode("overwrite").save(v2_dir),
        )
        p.t["scan_full"] = _timed(ctx, p, "sources.scan_full", lambda: force(load(p, v1_dir)))
        p.t["scan_projected"] = _timed(
            ctx, p, "sources.scan_projected",
            lambda: force(load(p, v1_dir, columns=datagen.PROJECTED_COLUMN)),
        )
        p.ranges = [r for j, r in enumerate(_id_ranges(v2_dir, codec_v2)) if j in slices]
        for lo, hi in p.ranges:
            p.pruned.append(_timed(
                ctx, p, "sources.scan_pruned",
                lambda: force(load(p, v2_dir).filter(F.col("id").between(lo, hi))),
            ))

    def check(p: _Pass) -> list[str]:
        bad = []
        for label, path, reader in (("v1", v1_dir, codec.read_arrow_table),
                                    ("v2", v2_dir, codec_v2.read_arrow_table)):
            files = _files(path)
            if len(files) != FILES:
                bad.append(f"{label}: {len(files)} files, expected {FILES}")
            got = pa.concat_tables([reader(f) for f in files]) if files else tbl.slice(0, 0)
            msg = checks.same_rows_by_id(got, want_by_id)
            if msg:
                bad.append(f"{label} round trip: {msg}")
        full = checks.spark_digest(spark.read.format("scbf").load(v1_dir))
        if full != want_digest:
            bad.append(f"full scan digest {full} != {want_digest}")
        k = datagen.PROJECTED_COLUMN
        row = (
            spark.read.format("scbf").option("columns", k).load(v1_dir)
            .agg(F.count(F.lit(1)), F.sum(F.col(k).cast("long")),
                 F.sum(F.col(k).cast("long") * F.col(k).cast("long")))
            .collect()[0]
        )
        if tuple(row) != want_k:
            bad.append(f"projected scan stats {tuple(row)} != {want_k}")
        if len(p.ranges) != PRUNED_SCANS:
            bad.append(f"{len(p.ranges)} pruned scans, expected {PRUNED_SCANS}")
        for lo, hi in p.ranges:
            got = spark.read.format("scbf").load(v2_dir).filter(F.col("id").between(lo, hi))
            msg = checks.same_rows_by_id(got.toArrow(), want_by_id.slice(lo, hi - lo + 1), lo)
            if msg:
                bad.append(f"pruned scan [{lo}, {hi}]: {msg}")
        return bad

    # untimed warm-up: one whole pass, so that the timed passes find the JIT,
    # code generation and Python data-source workers warm
    one_pass(_Pass(), set(range(PRUNED_SCANS)))

    passes: list[_Pass] = []
    attempted = failed = 0
    failures: list[str] = []
    timed = 0.0
    while not passes or timed < ctx.seconds:
        p = _Pass()
        slices = {int(j) for j in rng.choice(FILES, PRUNED_SCANS, replace=False)}
        t0 = ctx.clock()
        w0 = ctx.wall()
        try:
            with ctx.tracer.span("pass"):
                one_pass(p, slices)
        except Exception as e:  # one failed operation; keep measuring
            failed += 1
            failures.append(f"pass {len(passes)}: {type(e).__name__}: {e}")
            attempted += 1
            break
        p.t["pass"] = ctx.clock() - t0
        timed += p.t["pass"]
        p.window = (w0, ctx.wall())
        ops = 4 + PRUNED_SCANS
        attempted += ops
        bad = check(p)
        failures += bad
        failed += min(ops, len(bad))
        passes.append(p)

    last = passes[-1] if passes else None

    def m(key: str) -> float:
        return median(p.t[key] for p in passes)

    v1_bytes = sum(os.path.getsize(f) for f in _files(v1_dir))
    e2e = {
        "pass_s": (m("pass"), "s"),
        "write_rows_per_s": (2 * n / (m("write_v1") + m("write_v2")) if passes else 0.0, "rows/s"),
        "scan_rows_per_s": (n / m("scan_full") if passes else 0.0, "rows/s"),
        "projected_scan_rows_per_s": (n / m("scan_projected") if passes else 0.0, "rows/s"),
        "pruned_scan_s": (median(x for p in passes for x in p.pruned), "s"),
        "bytes_per_input_byte": (v1_bytes / tbl.nbytes, "ratio"),
    }
    layers: dict[str, tuple] = {}
    if ctx.trace and last is not None:
        layers.update(_codec_layer(ctx, tbl, want_by_id, v1_dir, v2_dir, last.ranges))
        full_tasks = median(ctx.jobs.counts(g)[2] for g in last.groups["sources.scan_full"])
        pruned_tasks = median(ctx.jobs.counts(g)[2] for g in last.groups["sources.scan_pruned"])
        layers.update({
            "sources.load_s": (median(x for p in passes for x in p.loads), "s"),
            "sources.write_s": (m("write_v1") + m("write_v2"), "s"),
            "sources.scan_full_s": (m("scan_full"), "s"),
            "sources.scan_projected_s": (m("scan_projected"), "s"),
            "sources.scan_pruned_s": (e2e["pruned_scan_s"][0], "s"),
            "sources.files_written": (len(_files(v1_dir)) + len(_files(v2_dir)), "count"),
            "sources.scan_tasks": (full_tasks, "count"),
            "sources.pruned_task_ratio": (pruned_tasks / full_tasks if full_tasks else 0.0,
                                          "ratio"),
        })
        layers["sources.overhead_full_s"] = (
            layers["sources.scan_full_s"][0] - layers["scbf.read_full_s"][0], "s")
        layers["sources.overhead_projected_s"] = (
            layers["sources.scan_projected_s"][0] - layers["scbf.read_projected_s"][0], "s")
    df.unpersist()
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "windows": [p.window for p in passes],
        "groups": [g for p in passes for gs in p.groups.values() for g in gs],
    }


def _codec_layer(ctx, tbl, by_id, v1_dir, v2_dir, ranges) -> dict:
    """Direct, single-threaded codec calls on the same data: writes of the
    generated table (v2 in id order, as the range-partitioned write lays it
    out), and reads of the files the last pass wrote."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from custom_columnar_format_spark.scbf import codec, codec_v2

    out_dir = os.path.join(ctx.run_dir, "codec")
    os.makedirs(out_dir, exist_ok=True)
    n = tbl.num_rows
    step = -(-n // FILES)
    with ctx.tracer.span("scbf.write") as sp:
        for i in range(FILES):
            part = os.path.join(out_dir, f"v1-{i}.scbf")
            codec.write_arrow_table(part, tbl.slice(i * step, step))
        for i in range(FILES):
            part = os.path.join(out_dir, f"v2-{i}.scbf")
            codec_v2.write_arrow_table(part, by_id.slice(i * step, step))
    write_s = sp["dur"]
    stored = sum(os.path.getsize(os.path.join(out_dir, f"v1-{i}.scbf")) for i in range(FILES))
    v1_files = _files(v1_dir)

    def read_all(columns):
        r0 = rchar()
        with ctx.tracer.span("scbf.read", columns=columns) as sp:
            for f in v1_files:
                codec.read_arrow_table(f, columns)
        return sp["dur"], rchar() - r0

    read_all(None)  # page cache and allocator in the same state for both reads
    full_s, full_b = read_all(None)
    proj_s, proj_b = read_all([datagen.PROJECTED_COLUMN])

    pruned = []
    for lo, hi in ranges:
        filters = [GreaterThanOrEqual(("id",), lo), LessThanOrEqual(("id",), hi)]
        with ctx.tracer.span("scbf.read_pruned") as sp:
            for f in _files(v2_dir):
                if codec_v2.file_may_match(codec_v2.read_meta(f), filters):
                    t = codec_v2.read_arrow_table(f, filters=filters)
                    ids = t.column("id")
                    t.filter(pc.and_(pc.greater_equal(ids, lo), pc.less_equal(ids, hi)))
        pruned.append(sp["dur"])
    return {
        "scbf.write_s": (write_s, "s"),
        "scbf.stored_bytes": (stored, "bytes"),
        "scbf.read_full_s": (full_s, "s"),
        "scbf.read_projected_s": (proj_s, "s"),
        "scbf.read_pruned_s": (median(pruned), "s"),
        "scbf.read_bytes_full": (full_b, "bytes"),
        "scbf.read_bytes_projected": (proj_b, "bytes"),
        "scbf.projected_byte_ratio": (proj_b / full_b if full_b else 0.0, "ratio"),
    }
