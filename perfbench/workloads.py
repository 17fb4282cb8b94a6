"""The workloads. Each one sets up its inputs and tables, runs a
single-threaded closed-loop client, then checks every timed op against
an oracle outside the clock.

A workload returns the end-to-end metrics every workload reports (see
BENCHMARK.json) plus its own named metrics, and fills ``ctx.extra``
with the per-layer counts measured from outside the engine (manifest,
directory listing, ``inputFiles()``)."""

from __future__ import annotations

import math
import os
import random
import time
import traceback
from dataclasses import dataclass, field

from stats import OpLedger, summarize

# ----------------------------------------------------- fixed sizing

SHUFFLE_PARTITIONS = 8
KEYS = ["repo", "path", "commit"]
# one table spec for every table the workloads build
TABLE_SPEC = dict(num_buckets=8, write_mode="mor", point_index_bits=8192,
                  stats_cols=["repo", "path"])
WINDOW_EVENTS = 5_000        # seq window of one replay commit
CYCLE = 4                    # compact_every = vacuum_every
INGEST_WARM_WINDOWS = 1      # warm-up commits inside setup_s
INGEST_MAX_CYCLES = 1        # input synthesized for at most this many
SERVE_DELTA_DEPTH = 2        # MoR versions of the served table
SERVE_REPLICA_LAG = 1        # versions the replica is left behind
SERVE_WARM_ROUNDS = 1        # untimed read-mix rounds inside setup_s
SERVE_MIN_ROUNDS = 3         # read-mix rounds timed at the least
LOOKUP_KEYS = 4              # keys per lookup_keys call
SERVE_RANGE_REPOS = 3        # consecutive repo values one range scan spans
DEDUP_FRESH = 100            # distinct docs of the dedup micro-batch
DEDUP_COPIES = 100           # exact copies of them in the same batch
DEDUP_BUCKETS = 4
HOT_REPO = "org0/repo0"      # the synthesizer's power-law hot repo


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object
    ledger: OpLedger = field(default_factory=OpLedger)
    extra: dict = field(default_factory=dict)   # per-layer counts
    named: dict = field(default_factory=dict)   # workload's own metrics


def _schema():
    from pyspark.sql.types import StructType

    return (StructType().add("repo", "string").add("path", "string")
            .add("commit", "string").add("lang", "string")
            .add("content", "string"))


def _row_hash(F):
    return F.xxhash64("repo", "path", "commit", "lang",
                      F.sha2(F.col("content"), 256))


def _count_xor(df, hash_col) -> tuple:
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.bit_xor(hash_col).alias("x")).first()
    return int(r["n"]), int(r["x"] or 0)


def _write_events(spark, path: str, n_events: int, seed: int) -> int:
    """Synthesize the change stream to parquet (no shuffle: the
    generator's partitions are contiguous seq ranges, so parquet min/max
    stats let a replay window skip most files). Returns the bytes
    written."""
    from synapse_etl_jobs_spark.sources.synth import (
        flatten_events, synth_change_events,
    )

    flatten_events(synth_change_events(spark, n_events, seed=seed)) \
        .write.parquet(path)
    return _dir_bytes(path)


def _events_in(lo: int, hi: int, dup_every: int = 17) -> int:
    """Events the synthesizer emits with lo <= seq < hi: one per seq plus
    a verbatim copy of every ``dup_every``-th."""
    return (hi - lo) + (hi - 1) // dup_every - (lo - 1) // dup_every


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _table_shape(tables: list) -> dict:
    """Table shape from the manifest and a listing of the table
    directories, no engine hooks."""
    live = depth = versions = meta = 0
    data_bytes = disk = 0
    for t in tables:
        entries = t.manifest.buckets
        live += sum(len(v) for v in entries.values())
        depth = max([depth] + [
            sum(1 for e in v if e.get("kind", "base") == "delta")
            for v in entries.values()])
        mdir = os.path.join(t.path, "_manifests")
        versions += sum(1 for f in os.listdir(mdir)
                        if f.startswith("v") and f.endswith(".json"))
        for d, _, files in os.walk(t.path):
            sizes = [os.path.getsize(os.path.join(d, f)) for f in files]
            disk += sum(sizes)
            rel = os.path.relpath(d, t.path)
            if rel == "data" or rel.startswith("data" + os.sep):
                data_bytes += sum(sizes)
            else:
                meta += len(files)
    return {"lake.live_files": live, "lake.delta_depth_max": depth,
            "lake.manifest_versions": versions, "lake.meta_files": meta,
            "lake.data_mb": data_bytes / 1e6, "table_disk_mb": disk / 1e6}


def _stat(path: str) -> "tuple[str, int, float]":
    """(name, parent pid, user + system CPU seconds) from a /proc stat
    file."""
    with open(path) as f:
        raw = f.read()
    fields = raw.rsplit(")", 1)[1].split()
    return (raw[raw.index("(") + 1:raw.rindex(")")], int(fields[1]),
            (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK"))


def _proc_cpu_s() -> float:
    """CPU seconds of this process, the driver JVM and all their
    descendants (Python workers), from /proc, less the JVM's JIT
    compiler threads. A fresh JVM compiles in bursts for minutes; that
    is warm-up, not the op's work, and it was the noisiest part of the
    sum. The JVM runs with a fixed set of compiler threads (see run.py),
    so none exits and takes its CPU out of the subtraction."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                _, parent[int(d)], cpu[int(d)] = _stat(f"/proc/{d}/stat")
            except OSError:
                continue
    me = os.getpid()
    total = 0.0
    for pid in cpu:
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p != me:
            continue
        total += cpu[pid]
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, _, t_cpu = _stat(f"/proc/{pid}/task/{tid}/stat")
                if "CompilerThre" in name:
                    total -= t_cpu
        except OSError:
            continue
    return total


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _timed(ctx: Ctx, kind: str, fn, items: int = 1):
    """Run one timed op as a root span; an exception counts as a failed
    op (traceback to stderr) and the client moves on. ``items`` is the
    op's input (events, docs), credited only when the op succeeded."""
    c0, s0 = _proc_cpu_s(), _steal_s()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(f"op.{kind}"):
            out = fn()
        ok = True
    except Exception:  # boundary: the closed loop must keep running
        traceback.print_exc()
        out, ok = None, False
    dt = time.perf_counter() - t0
    ctx.ledger.record(kind, dt, ok, _proc_cpu_s() - c0, _steal_s() - s0,
                      items)
    return out, dt, ok


def _geomean_p50(per_kind: "dict[str, list[float]]") -> float:
    """Geometric mean over op kinds of each kind's median: a mix of
    lookups, scans and a catch-up gets one figure whose median does not
    jump between the modes."""
    p50s = [summarize(v)["p50"] for v in per_kind.values()]
    return math.prod(p50s) ** (1 / len(p50s))


def _finish(ctx: Ctx, setup_s: float, shape: dict) -> dict:
    """The end-to-end metrics. ``op_cpu_ms`` and ``op_wall_ms`` are the
    geometric mean over op kinds of each kind's median, so every kind
    counts once however often it runs. CPU is that of the driver process
    tree (this process, the driver JVM, its Python workers). The host's
    vCPUs lose a varying share of time to other tenants (steal), so an
    op's wall is taken less the time stolen per core while it ran: the
    wall the op would have had on cores of its own. The steal share of
    the timed phase is printed with the rest."""
    ctx.extra.update({k: v for k, v in shape.items()
                      if k != "table_disk_mb"})
    ops = ctx.ledger.ops
    cores = len(os.sched_getaffinity(0))
    busy = sum(op.wall_s for op in ops)
    ctx.named["steal_share"] = (
        sum(op.steal_s for op in ops) / (cores * busy), "ratio", len(ops))

    own_wall: dict = {}
    for op in ops:
        own_wall.setdefault(op.kind, []).append(op.wall_s - op.steal_s / cores)
    return {
        "setup_s": setup_s,
        "op_cpu_ms": _geomean_p50(ctx.ledger.by_kind("cpu_s")) * 1e3,
        "op_wall_ms": _geomean_p50(own_wall) * 1e3,
        "table_disk_mb": shape["table_disk_mb"],
    }


def _named_timing(ctx: Ctx, name: str, samples: list, unit: str, scale: float):
    s = summarize(samples)
    ctx.named[f"{name}_p50_{unit}"] = (s["p50"] * scale, unit, s["n"])
    if s["hi"] is not None:
        ctx.named[f"{name}_p{s['hi_pct']}_{unit}"] = (s["hi"] * scale, unit, s["n"])


# ---------------------------------------------------------- dedup stream

def _shingles(text: str, k: int = 5) -> frozenset:
    """Character k-shingle set, as ``operators.text.char_shingles``
    defines it (a string shorter than k is its own single shingle)."""
    return frozenset(text[i:i + k] for i in range(max(len(text) - k + 1, 1)))


def expected_kept(batches: "list[list[tuple[int, str]]]") -> "list[set[int]]":
    """Oracle of exact (threshold 1.0) streaming dedup: in id order, a
    doc survives unless its shingle set equals that of a survivor of
    this or an earlier batch."""
    seen: set = set()
    out = []
    for batch in batches:
        kept = set()
        for doc_id, text in sorted(batch):
            s = _shingles(text)
            if s not in seen:
                seen.add(s)
                kept.add(doc_id)
        out.append(kept)
    return out


class DedupStream:
    """``dedup_stream_into_table`` (with ``txn_path``) into empty docs
    and index tables. The timed op is the stream's one availableNow
    micro-batch: DEDUP_FRESH docs (the event contents of the first
    seqs) and DEDUP_COPIES exact copies of fresh survivors under new,
    higher ids, so every copy has its original earlier in the batch."""

    def __init__(self, ctx: Ctx, events):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from synapse_etl_jobs_spark.streaming.dedup_stream import (
            create_dedup_tables,
        )

        self.ctx = ctx
        rng = random.Random(ctx.seed)
        fresh = [(int(r[0]), r[1]) for r in (
            events.filter(F.col("content").isNotNull())
            .dropDuplicates(["seq"]).select("seq", "content")
            .orderBy("seq").limit(DEDUP_FRESH).collect())]
        survivors = sorted(expected_kept([fresh])[0])
        text_of = dict(fresh)
        self.batch = fresh + [(10**9 + k, text_of[rng.choice(survivors)])
                              for k in range(DEDUP_COPIES)]
        self.want = expected_kept([self.batch])[0]

        work = os.path.join(ctx.work, "dedup")
        self.src = os.path.join(work, "src")
        os.makedirs(self.src)
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in self.batch], pa.int64()),
            "text": pa.array([r[1] for r in self.batch], pa.string())}),
            os.path.join(self.src, "b000.parquet"))
        self.doc_schema = (StructType().add("doc_id", "long")
                           .add("text", "string"))
        self.docs_t, self.index_t = create_dedup_tables(
            ctx.spark, os.path.join(work, "docs"), os.path.join(work, "index"),
            self.doc_schema, num_buckets=DEDUP_BUCKETS)
        self.ckpt = os.path.join(work, "ckpt")
        self.txn = os.path.join(work, "txn")

    def timed_batch(self) -> None:
        from synapse_etl_jobs_spark.streaming.dedup_stream import (
            dedup_stream_into_table,
        )

        ctx, tracer = self.ctx, self.ctx.tracer
        tracer.wrap_table(self.docs_t, "docs", qualify=True)
        tracer.wrap_table(self.index_t, "index", qualify=True)

        def op():
            with tracer.span("streaming.dedup_stream") as sp:
                tracer.alias(dedup_stream_into_table(
                    self.docs_t, self.index_t,
                    ctx.spark.readStream.schema(self.doc_schema).parquet(self.src),
                    self.ckpt, threshold=1.0, txn_path=self.txn), sp)
        _timed(ctx, "dedup_batch", op, len(self.batch))

    def check(self) -> bool:
        """Every copy is dropped and every fresh doc kept, as the oracle
        says. Fills the per-layer dedup counts."""
        got = {r[0] for r in self.docs_t.read().select("doc_id").collect()}
        self.ctx.extra.update({
            "streaming.dedup_stream.docs_in": len(self.batch),
            "streaming.dedup_stream.docs_kept": len(got),
            "streaming.dedup_stream.kept_ratio": len(got) / len(self.batch),
            "lake.txn.records": sum(1 for _ in os.scandir(self.txn)),
        })
        if got != self.want:
            print(f"dedup_stream: kept {len(got)}, oracle {len(self.want)} "
                  f"({len(got ^ self.want)} ids differ)", flush=True)
        return got == self.want

    def disk_bytes(self) -> int:
        return sum(_dir_bytes(p) for p in
                   (self.docs_t.path, self.index_t.path, self.txn))


# ------------------------------------------------------------ ingest_mor

def ingest_mor(ctx: Ctx) -> dict:
    """ReplayDriver over small seq windows into a MoR table, with
    in-loop compact_every=vacuum_every=4, then one streaming near-dup
    micro-batch. Write-only. One op is one window's replay, or the dedup
    micro-batch. The window whose replay also compacts and vacuums is
    its own op kind, ``window_maint``, so the per-op metrics weigh the
    maintenance as much as a plain commit."""
    from pyspark.sql import functions as F

    from synapse_etl_jobs_spark.lake import LakeTable
    from synapse_etl_jobs_spark.operators.dedup import dedup_lww
    from synapse_etl_jobs_spark.streaming import ReplayDriver

    spark = ctx.spark
    t0 = time.perf_counter()
    n_windows = INGEST_WARM_WINDOWS + CYCLE * INGEST_MAX_CYCLES
    ev_path = os.path.join(ctx.work, "events")
    ev_bytes = _write_events(spark, ev_path, WINDOW_EVENTS * n_windows,
                             ctx.seed)
    table = LakeTable.create(spark, os.path.join(ctx.work, "t"), _schema(),
                             KEYS, **TABLE_SPEC)
    driver = ReplayDriver(table, stream_id="ingest",
                          batch_events=WINDOW_EVENTS,
                          compact_every=CYCLE, vacuum_every=CYCLE)
    events = spark.read.parquet(ev_path)

    def window(w):
        return driver.replay(events, seq_start=w * WINDOW_EVENTS,
                             seq_end=(w + 1) * WINDOW_EVENTS)

    for w in range(INGEST_WARM_WINDOWS):
        window(w)
    dedup = DedupStream(ctx, events)
    setup_s = time.perf_counter() - t0

    # whole 4-window cycles until --seconds, then the dedup micro-batch
    ctx.tracer.wrap_table(table, "main")
    shape = None
    w = INGEST_WARM_WINDOWS
    start = time.perf_counter()
    while w < n_windows:
        for _ in range(CYCLE):
            maint = (w + 1) % CYCLE == 0  # the driver's CYCLE-th commit

            def op(w=w, maint=maint):
                with ctx.tracer.span("streaming.replay"):
                    stats = window(w)
                if not (len(stats) == 1 and stats[0].get("applied")
                        and ("compact" in stats[0]) == maint
                        and ("vacuum" in stats[0]) == maint):
                    raise RuntimeError(f"window {w} not applied "
                                       f"(maintenance {maint}): {stats}")
            _timed(ctx, "window_maint" if maint else "window", op,
                   _events_in(w * WINDOW_EVENTS, (w + 1) * WINDOW_EVENTS))
            w += 1
        # any CYCLE consecutive windows hold exactly one compaction and
        # one vacuum; the table shape is taken at a fixed work point,
        # after the first timed cycle
        if shape is None:
            shape = _table_shape([table])
        if time.perf_counter() - start >= ctx.seconds:
            break
    dedup.timed_batch()
    ctx.tracer.enabled = False
    consumed_hi = w * WINDOW_EVENTS
    ctx.extra["input_bytes_consumed"] = (
        ev_bytes * (w - INGEST_WARM_WINDOWS) / n_windows)

    # final state vs dedup_lww over the same event files, DELETE
    # winners dropped; a mismatch fails every window
    oracle = dedup_lww(events.filter(F.col("seq") < consumed_hi), KEYS,
                       "seq").filter(F.col("op") != "DELETE")
    want = _count_xor(oracle, _row_hash(F))
    got = _count_xor(LakeTable.load(spark, table.path).read(), _row_hash(F))
    if got != want:
        print(f"ingest_mor: final state {got} != oracle {want}", flush=True)
        ctx.ledger.fail(sum(1 for op in ctx.ledger.ops
                            if op.kind != "dedup_batch" and op.ok))
    if not dedup.check() and ctx.ledger.ops[-1].ok:
        ctx.ledger.fail()

    shape["table_disk_mb"] += dedup.disk_bytes() / 1e6
    e2e = _finish(ctx, setup_s, shape)
    by_kind = ctx.ledger.by_kind()
    _named_timing(ctx, "commit", by_kind["window"] + by_kind["window_maint"],
                  "s", 1.0)
    # ingest throughput is counted in docs of the dedup micro-batch
    ctx.named["ingest_events_per_s"] = (
        len(dedup.batch) / by_kind["dedup_batch"][0], "1/s", len(dedup.batch))
    return e2e


# ------------------------------------------------------------- serve_mor

def serve_mor(ctx: Ctx) -> dict:
    """Read-only serving of a MoR table with a fixed delta depth. The
    client cycles through rounds of the read mix (hot/cold/absent
    lookups, a range scan, a snapshot aggregate, a per-version changes
    read), then catches up one replica left behind by
    SERVE_REPLICA_LAG versions."""
    from pyspark.sql import functions as F

    from synapse_etl_jobs_spark.lake import LakeTable
    from synapse_etl_jobs_spark.operators.dedup import dedup_lww
    from synapse_etl_jobs_spark.streaming import ReplayDriver, replicate_once

    spark = ctx.spark
    rng = random.Random(ctx.seed)
    t0 = time.perf_counter()
    ev_path = os.path.join(ctx.work, "events")
    _write_events(spark, ev_path, WINDOW_EVENTS * SERVE_DELTA_DEPTH, ctx.seed)
    events = spark.read.parquet(ev_path)
    src = LakeTable.create(spark, os.path.join(ctx.work, "src"), _schema(),
                           KEYS, **TABLE_SPEC)
    ReplayDriver(src, stream_id="serve", batch_events=WINDOW_EVENTS).replay(
        events, seq_start=0, seq_end=SERVE_DELTA_DEPTH * WINDOW_EVENTS)
    # the replica: a zero-copy clone at the lagged version
    lagged = SERVE_DELTA_DEPTH - SERVE_REPLICA_LAG
    replica = os.path.join(ctx.work, "replica")
    src.clone(replica, version=lagged)
    setup_s = time.perf_counter() - t0

    # ---- oracle, outside every clock
    winners = dedup_lww(events, KEYS, "seq")
    rows = winners.select(*KEYS, "op", "lang", "content").collect()
    live = {tuple(r[:3]): (r["lang"], r["content"])
            for r in rows if r["op"] != "DELETE"}
    deleted = [tuple(r[:3]) for r in rows if r["op"] == "DELETE"]
    hot = sorted(k for k in live if k[0] == HOT_REPO)
    cold = sorted(k for k in live if k[0] != HOT_REPO)
    absent = deleted + [(k[0], k[1], "0" * 40) for k in cold[:200]]
    # per-repo (count, xor) of the live winners; xor and count compose,
    # so the snapshot's expectation is their fold
    per_repo = {r["repo"]: (r["n"], r["x"]) for r in (
        winners.filter(F.col("op") != "DELETE").groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor(_row_hash(F)).alias("x"))
        .collect())}
    snapshot_want = (sum(n for n, _ in per_repo.values()), 0)
    for _, x in per_repo.values():
        snapshot_want = (snapshot_want[0], snapshot_want[1] ^ x)
    # the middle of the sorted repos: a cold range whose size does not
    # hang on the seed's draw (the hot repo sorts first)
    repos = sorted(per_repo)
    first = (len(repos) - SERVE_RANGE_REPOS) // 2
    span = repos[first:first + SERVE_RANGE_REPOS]
    bounds = {"repo": (span[0], span[-1])}
    range_want = (sum(per_repo[r][0] for r in span), 0)
    for r in span:
        range_want = (range_want[0], range_want[1] ^ per_repo[r][1])
    # changes(v-1, v) = the LWW winners of window v, tombstones included
    changes_want = {int(r["w"]) + 1: (r["n"], r["x"]) for r in (
        dedup_lww(events.withColumn("w", F.expr(f"seq div {WINDOW_EVENTS}")),
                  ["w", *KEYS], "seq")
        .groupBy("w").agg(F.count(F.lit(1)).alias("n"),
                          F.bit_xor(F.xxhash64(*KEYS, F.col("seq"))).alias("x"))
        .collect())}
    files_total = sum(len(v) for v in src.manifest.buckets.values())

    def lookup(keys):
        df = src.lookup_keys(keys)
        with ctx.tracer.span("lake.lookup_keys.exec"):
            got = {(r["repo"], r["path"], r["commit"], r["lang"], r["content"])
                   for r in df.collect()}
        want = {k + live[k] for k in keys if k in live}
        if got != want:
            raise AssertionError(f"lookup {keys[:1]}...: {len(got)} rows, "
                                 f"oracle {len(want)}")
        return df

    def scan():
        df = src.scan_range(bounds)
        with ctx.tracer.span("lake.scan_range.exec"):
            got = _count_xor(df, _row_hash(F))
        if got != range_want:
            raise AssertionError(f"scan_range {bounds}: {got} != {range_want}")
        return df

    def snapshot():
        df = src.read()
        with ctx.tracer.span("lake.read.exec"):
            got = _count_xor(df, _row_hash(F))
        if got != snapshot_want:
            raise AssertionError(f"snapshot {got} != {snapshot_want}")

    def changes(v):
        df = src.changes(v - 1, v)
        with ctx.tracer.span("lake.changes.exec"):
            got = _count_xor(df, F.xxhash64(*KEYS, F.col("_seq")))
        if got != changes_want[v]:
            raise AssertionError(f"changes v{v}: {got} != {changes_want[v]}")
        return got[0]

    def round_ops(i):
        return [
            ("lookup", lambda: lookup(rng.sample(hot, min(LOOKUP_KEYS, len(hot))))),
            ("lookup", lambda: lookup(rng.sample(cold, LOOKUP_KEYS))),
            ("lookup", lambda: lookup(rng.sample(absent, LOOKUP_KEYS))),
            ("range", scan),
            ("snapshot", snapshot),
            ("changes", lambda: changes(i % SERVE_DELTA_DEPTH + 1)),
        ]

    # warm the read paths (setup: JIT, not served traffic)
    t1 = time.perf_counter()
    for i in range(SERVE_WARM_ROUNDS):
        for _, fn in round_ops(i):
            fn()
    setup_s += time.perf_counter() - t1

    ctx.tracer.wrap_table(src, "src")
    files_read = {"lookup": [], "range": []}
    changes_rows = 0
    start = time.perf_counter()
    i = 0
    while i < SERVE_MIN_ROUNDS or time.perf_counter() - start < ctx.seconds:
        for kind, fn in round_ops(i):
            out, _, ok = _timed(ctx, kind, fn)
            if not ok:
                continue
            if kind == "changes":
                changes_rows += out
            elif kind in files_read and ctx.tracer.enabled:
                files_read[kind].append(len(out.inputFiles()))
        i += 1

    def catchup():
        with ctx.tracer.span("streaming.replicate") as sp:
            ctx.tracer.alias(replicate_once(
                spark, src.path, replica, replica + "_ckpt",
                starting_version=lagged), sp)
    _timed(ctx, "catchup", catchup)
    ctx.tracer.enabled = False
    got = _count_xor(LakeTable.load(spark, replica).read(), _row_hash(F))
    if got != snapshot_want and ctx.ledger.ops[-1].ok:
        print(f"serve_mor: replica {got} != source {snapshot_want}", flush=True)
        ctx.ledger.fail()

    shape = _table_shape([src])
    e2e = _finish(ctx, setup_s, shape)
    by_kind = ctx.ledger.by_kind()
    for kind, name, unit, scale in (("lookup", "lookup", "ms", 1e3),
                                    ("range", "range_scan", "ms", 1e3),
                                    ("snapshot", "snapshot_scan", "s", 1.0),
                                    ("changes", "changes", "s", 1.0)):
        _named_timing(ctx, name, by_kind.get(kind, []), unit, scale)
    ctx.named["replica_catchup_s"] = (by_kind["catchup"][0], "s", 1)
    for kind, layer in (("lookup", "lookup_keys"), ("range", "scan_range")):
        fr = files_read[kind]
        mean = sum(fr) / len(fr) if fr else 0.0
        ctx.extra[f"lake.{layer}.files_read"] = mean
        ctx.extra[f"lake.{layer}.prune_ratio"] = (
            1 - mean / files_total if fr else 0.0)
    ctx.extra["lake.changes.rows"] = changes_rows
    return e2e


WORKLOADS = {"ingest_mor": ingest_mor, "serve_mor": serve_mor}
