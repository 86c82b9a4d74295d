"""``ticket_sync``: the reference's own scheduled job, repeated against one
persistent versioned table keyed on string ``_id``.

One round is one sync cycle — a page scan over a seeded in-process
fetcher, the distributed detail fetch, the ticket transform and a
commit — followed by reads of the version it committed: point lookups
by ``_id`` and one snapshot aggregate. Commits alternate between the
plain merge-on-read upsert and the conditional-arm MERGE that deletes
tickets flagged ``deleted``; every ``COMPACT_EVERY`` rounds the table is
compacted. Read cost grows with the generations left by uncompacted
commits, so a commit-side change that costs readers shows here.

An in-benchmark model applies the same upserts, arm deletes and inserts
to a dict; every lookup and scan is checked against it, and at the end
the live table's key set and per-key values are. An op that raises is a
failed op; the run goes on and the end-of-run check still runs.
"""

from __future__ import annotations

import json
import os
import random
import zlib

# The reference's batch: at most 20 pages of 100 ids a run (main.py:130-134).
PER_PAGE = 100
MAX_PAGES = 20
BATCH = PER_PAGE * MAX_PAGES  # ids per cycle
TABLE_ROWS = 10 * BATCH  # bootstrap size; 100x would add ~15 s of cold bootstrap to every run
N_BUCKETS = 8
BLOOM_BITS = 1 << 16
LOOKUPS = 3  # point lookups per round; the first reads a key just synced
COMPACT_EVERY = 2  # rounds per compaction cycle: one upsert, one arms commit
COMPACTIONS = 2  # compaction cycles per pass
INSERT_SHARE = 0.2
DELETED_SHARE = 0.1
ARMS = dict(
    matched=[("s.deleted", "delete"), (None, "update")],
    not_matched=[("NOT s.deleted", "insert")],
)
CHECK_COLS = ["_id", "subject", "createdTimestamp", "sendEmailFailureCount", "deleted"]


def ticket_id(n: int) -> str:
    return f"t{n:07d}"


def _hash(seed: int, tid: str) -> int:
    return zlib.crc32(f"{seed}:{tid}".encode())


def _created(h: int) -> int:
    return 1_600_000_000 + h % 50_000_000


def fail_count(seed: int, tid: str, rnd: int) -> int:
    """sendEmailFailureCount of ``tid`` as of round ``rnd``."""
    return (_hash(seed, tid) + rnd) % 7


def raw_ticket(seed: int, tid: str, rnd: int, deleted: bool) -> dict:
    """The API's detail record for ``tid`` as of sync round ``rnd`` — a
    pure function, so Python workers rebuild it from the id alone."""
    h = _hash(seed, tid)
    created = _created(h)
    return {
        "_id": tid,
        "subject": f"Ticket {tid} r{rnd}",
        "description": f"<p>Issue &amp; detail {h % 1000} <b>r{rnd}</b></p>",
        "createdTimestamp": created,
        "updatedTimestamp": created + 3600 * rnd,
        "deleted": deleted,
        "fromEmail": f"u{h % 997}@example.com",
        "fromName": f"User {h % 997}",
        "toEmails": [f"a{h % 89}@x.com"] if h % 3 else [],
        "tags": ["red", "blue", "green"][: h % 4],
        "meta": json.dumps({"k": str(h % 10), "v": f"r{rnd}"}),
        "sendEmailFailureCount": (h + rnd) % 7,
        "discounts": [{"code": f"C{h % 5}", "amount": h % 100}] if h % 4 == 0 else [],
    }


def expected_row(seed: int, tid: str, rnd: int, deleted: bool) -> tuple:
    """The CHECK_COLS values the transform must store for a ticket (the
    fields of :func:`raw_ticket` it reads, computed alone)."""
    h = _hash(seed, tid)
    return (tid, f"Ticket {tid} r{rnd}", str(_created(h)), str((h + rnd) % 7), deleted)


class DetailFetcher:
    """``(id) -> record`` for the detail fetch. Shipped to Python workers
    by pickle; ``versions`` maps this cycle's ids to (round, deleted),
    and ids outside it are bootstrap tickets."""

    def __init__(self, seed: int, versions: dict[str, tuple[int, bool]] | None = None) -> None:
        self.seed = seed
        self.versions = versions or {}

    def __call__(self, tid: str) -> dict:
        rnd, deleted = self.versions.get(tid, (0, False))
        return raw_ticket(self.seed, tid, rnd, deleted)


class PageFetcher:
    """``(page, per_page) -> [{"_id": ...}]`` over one cycle's id list."""

    def __init__(self, ids: list[str]) -> None:
        self.ids = ids

    def __call__(self, page: int, per_page: int) -> list[dict]:
        return [{"_id": i} for i in self.ids[(page - 1) * per_page : page * per_page]]


def committed_version(path: str) -> int:
    """The table's newest committed manifest version: a ``v=<n>``
    directory with its ``_SUCCESS`` marker."""
    root = os.path.join(path, "_manifest")
    return max(
        int(d[2:]) for d in os.listdir(root)
        if d.startswith("v=") and os.path.exists(os.path.join(root, d, "_SUCCESS"))
    )


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    rows = 0
    for p in _tree_files(path):
        if p.endswith(".parquet"):
            rows += pq.ParquetFile(p).metadata.num_rows
    return rows


class TicketSync:
    session_sf = "sf0.001"  # the session warm-up reads this fixture
    sizes = {"table_rows": TABLE_ROWS, "batch_rows": BATCH, "lookups_per_round": LOOKUPS,
             "compact_every": COMPACT_EVERY, "compactions_per_pass": COMPACTIONS, "n_buckets": N_BUCKETS}

    def __init__(self, seed: int, dirs, tracer, trace: bool) -> None:
        from data_pipeline_bigquery_to_sftp_server_spark import pipeline
        from data_pipeline_bigquery_to_sftp_server_spark.operators import merge
        from data_pipeline_bigquery_to_sftp_server_spark.sources import rest

        self.pipeline, self.merge, self.rest = pipeline, merge, rest
        self.seed = seed
        self.dirs = dirs
        self.tr = tracer
        self.trace = trace
        self.path = None
        self.model: dict[str, tuple[int, bool]] = {}
        self.next_id = TABLE_ROWS
        self.version = 0
        self.synced_rows = 0
        self.rounds = 0
        self.stored_per_live = 0.0

    # ------------------------------------------------------------ set-up

    def load(self, spark) -> None:
        """No catalog tables: the workload's only input is the fetcher."""

    def setup(self, spark, i: int) -> None:
        """Bootstrap a fresh table of TABLE_ROWS tickets through the same
        fetch and transform path the cycles use."""
        from pyspark.sql import functions as F

        self.path = self.dirs.path("tables", f"tickets{i}")
        ids = spark.range(TABLE_ROWS).select(F.format_string("t%07d", F.col("id")).alias("_id"))
        raw = self.rest.fetch_details(ids, DetailFetcher(self.seed), self.pipeline.TICKET_RAW_SCHEMA)
        staged = self.pipeline.transform_tickets(raw)
        self.merge.versioned_layout_write(
            staged, "_id", self.path, n_buckets=N_BUCKETS, point_cols=["_id"], bloom_bits=BLOOM_BITS
        )
        self.model, self.fail_sum, self.deleted_sum = {}, 0, 0
        for n in range(TABLE_ROWS):
            self._put(ticket_id(n), (0, False))
        self.next_id, self.version, self.synced_rows = TABLE_ROWS, 0, 0

    def prepare(self, spark) -> None:
        """Nothing to precompute: the model is the oracle."""

    def warm(self, spark) -> None:
        """Nothing: the three bootstraps already ran the fetch, transform
        and write paths a cycle takes."""

    # -------------------------------------------------------------- loop

    def run(self, spark, rec, seconds: float) -> float:
        """Passes of COMPACTIONS compaction cycles, each of COMPACT_EVERY
        rounds and a compaction."""
        from perfbench.harness import run_passes

        def one_pass():
            for _ in range(COMPACTIONS):
                for _ in range(COMPACT_EVERY):
                    self.rounds += 1
                    self._round(spark, rec, self.rounds)
                self._compact(spark, rec)

        return run_passes(seconds, one_pass)

    def _batch(self, rnd: int, live: list[str]) -> tuple[list[str], dict[str, tuple[int, bool]]]:
        rng = random.Random(f"{self.seed}:{rnd}")
        n_new = int(BATCH * INSERT_SHARE)
        upd = rng.sample(live, BATCH - n_new)
        new = [ticket_id(self.next_id + k) for k in range(n_new)]
        self.next_id += n_new
        ids = upd + new
        rng.shuffle(ids)
        return ids, {i: (rnd, rng.random() < DELETED_SHARE) for i in ids}

    def _put(self, tid: str, v: tuple[int, bool] | None) -> None:
        """Set (or with None, delete) a model row, keeping the sums a
        scan is checked against."""
        for sign, old in ((-1, self.model.get(tid)), (1, v)):
            if old is not None:
                self.fail_sum += sign * fail_count(self.seed, tid, old[0])
                self.deleted_sum += sign * old[1]
        if v is None:
            self.model.pop(tid, None)
        else:
            self.model[tid] = v

    def _apply(self, versions: dict[str, tuple[int, bool]], arms: bool) -> None:
        for tid, (rnd, deleted) in versions.items():
            matched = tid in self.model
            if not arms:
                self._put(tid, (rnd, deleted))
            elif matched and deleted:
                self._put(tid, None)
            elif matched or not deleted:
                self._put(tid, (rnd, deleted))

    def _round(self, spark, rec, rnd: int) -> None:
        live = sorted(self.model)
        ids, versions = self._batch(rnd, live)
        arms = rnd % 2 == 0
        kind = "cycle_arms" if arms else "cycle_upsert"
        before = _tree_files(self.path) if self.trace else None
        try:
            with rec.op("cycle", kind) as o:
                with self.tr.span("sources.rest"):
                    id_df = self.rest.scan_pages(spark, PageFetcher(ids), per_page=PER_PAGE, max_pages=MAX_PAGES)
                    raw = self.rest.fetch_details(
                        id_df, DetailFetcher(self.seed, versions), self.pipeline.TICKET_RAW_SCHEMA
                    )
                with self.tr.span("pipeline"):
                    staged = self.pipeline.transform_tickets(raw)
                with self.tr.span("operators.merge"):
                    if arms:
                        out = self.merge.merge_arms_versioned_dv(spark, self.path, staged, "_id", **ARMS)
                    else:
                        out = self.merge.upsert_versioned_dv(spark, self.path, staged, "_id")
            self.version += 1
            o["ok"] = out.version == self.version
        except Exception as e:  # a failed op; the model follows what the table committed
            o["detail"] = repr(e)[:500]
            committed = committed_version(self.path)
            if committed == self.version:
                return
            self.version = committed
        self._apply(versions, arms)
        self.synced_rows += len(ids)
        if self.trace and o["ok"]:
            self._commit_counts(o, before, staged)

        fresh = ids[0]
        rng = random.Random(f"{self.seed}:{rnd}:reads")
        for tid in [fresh] + rng.sample(live, LOOKUPS - 1):
            self._lookup(spark, rec, tid)
        self._scan(spark, rec)

    def _commit_counts(self, o: dict, before: dict[str, int], staged) -> None:
        """Write-side counts of the commit just made, from the table's
        files (traced runs only, outside the op's timed region)."""
        after = _tree_files(self.path)
        # parquet only (data, DV, manifest): the commit's JSON sidecars
        # carry timestamps, so their sizes are not repeatable
        added = {p: s for p, s in after.items() if p not in before and p.endswith(".parquet")}
        data = [p for p in added if f"{os.sep}data{os.sep}" in p]
        staged_dir = self.dirs.path("tmp", f"staged-v{self.version}")
        staged.write.mode("overwrite").parquet(staged_dir)
        staged_bytes = sum(s for p, s in _tree_files(staged_dir).items() if p.endswith(".parquet"))
        c = o["counters"]
        c["merge.files_added"] = len(data)
        c["merge.bytes_added"] = sum(added.values())
        c["merge.write_amp"] = c["merge.bytes_added"] / max(1, staged_bytes)
        c["merge.dv_rows"] = _parquet_rows(os.path.join(self.path, "_dv", f"v={self.version}"))

    def _lookup(self, spark, rec, tid: str) -> None:
        try:
            with rec.op("lookup") as o:
                with self.tr.span("operators.merge"):
                    df = self.merge.read_version_point(spark, self.path, "_id", tid)
                with self.tr.span("spark"):
                    rows = [tuple(r) for r in df.select(*CHECK_COLS).collect()]
        except Exception as e:  # a failed op
            o["detail"] = repr(e)[:500]
            return
        want = self.model.get(tid)
        o["ok"] = rows == ([expected_row(self.seed, tid, *want)] if want else [])
        if self.trace:
            o["counters"]["merge.lookup_files_read"] = len(df.inputFiles())

    def _scan(self, spark, rec) -> None:
        from pyspark.sql import functions as F

        try:
            with rec.op("scan") as o:
                with self.tr.span("operators.merge"):
                    df = self.merge.read_version(spark, self.path)
                with self.tr.span("spark"):
                    got = df.agg(
                        F.count(F.lit(1)),
                        F.sum(F.col("sendEmailFailureCount").cast("long")),
                        F.sum(F.col("deleted").cast("int")),
                    ).collect()[0]
        except Exception as e:  # a failed op
            o["detail"] = repr(e)[:500]
            return
        o["ok"] = tuple(got) == (len(self.model), self.fail_sum, self.deleted_sum)
        if self.trace:
            o["counters"]["merge.scan_files_read"] = len(df.inputFiles())

    def _compact(self, spark, rec) -> None:
        before = _tree_files(self.path) if self.trace else None
        try:
            with rec.op("compact") as o:
                with self.tr.span("operators.merge"):
                    out = self.merge.compact_table(spark, self.path, "_id")
        except Exception as e:  # a failed op; compaction leaves the contents as they were
            o["detail"] = repr(e)[:500]
            self.version = committed_version(self.path)
            return
        self.version += 1
        o["ok"] = out.version == self.version
        if self.trace:
            after = _tree_files(self.path)
            o["counters"]["merge.compact_bytes_rewritten"] = sum(
                s for p, s in after.items() if p not in before and p.endswith(".parquet")
            )

    # --------------------------------------------------------------- end

    def finish(self, spark, rec) -> None:
        """The end-of-run gate: the live table's key set and per-key
        values equal the model's. Also sizes the table against a
        compacted snapshot of its live rows."""
        try:
            live = self.merge.read_version(spark, self.path)
            got = sorted(live.select(*CHECK_COLS).toPandas().itertuples(index=False, name=None))
        except Exception as e:  # the gate fails; the run still reports
            rec.gate("final_check", False, repr(e)[:500])
            return
        want = sorted(expected_row(self.seed, t, *v) for t, v in self.model.items())
        rec.gate("final_check", got == want, f"{len(got)} live rows, {len(want)} in the model")
        snap = self.dirs.path("tmp", "snapshot")
        live.write.mode("overwrite").parquet(snap)
        live_bytes = sum(_tree_files(snap).values())
        self.stored_per_live = sum(_tree_files(self.path).values()) / live_bytes

    def release(self, spark) -> None:
        """Nothing held between set-ups."""

    def e2e(self, rec, loop_s: float) -> dict[str, tuple[float, str]]:
        """The workload's own end-to-end figures (payload only)."""
        from statistics import median

        from perfbench.harness import tail

        out: dict[str, tuple[float, str]] = {}
        for name, kinds in (("sync_cycle_s", ("cycle",)), ("lookup_s", ("lookup",)), ("scan_s", ("scan",))):
            xs = [o["s"] for o in rec.of(*kinds)]
            out[f"{name}.p50"] = (median(xs), "s")
            t = tail(xs)
            if t is not None:
                out[f"{name}.tail"] = (t[0], "s")
                out[f"{name}.tail_rank"] = (t[1], "percentile")
        out["synced_rows_per_s"] = (self.synced_rows / loop_s, "rows/s")
        out["stored_bytes_per_live_byte"] = (self.stored_per_live, "ratio")
        return out

    def read_ops(self, rec) -> list[dict]:
        """The user's reads of the synced table."""
        return rec.of("lookup", "scan")
