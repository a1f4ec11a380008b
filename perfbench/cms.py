"""The `cms_sync` workload: the reference pipeline on a replayed wire stream.

file source -> decode (gunzip, pointer fetch, validation) -> keyed latest
state -> read-merge-rewrite CMS table, with availableNow and one file per
trigger. The first batches are the untimed warm-up; the stream then runs
until `seconds` have passed and stops at a batch boundary, and the table it
left is checked against the closed-form state of exactly the files its
applied batches read.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time

from perfbench import gen

from kinesis_customer_sample_spark.sources.kinesis import (
    content_operation_stream,
    file_record_stream,
)
from kinesis_customer_sample_spark.streaming.sinks import foreach_batch_upsert
from kinesis_customer_sample_spark.streaming.stateful import latest_state_stream


class StoppingSink:
    """foreachBatch callable around `foreach_batch_upsert`. The first
    `warm_batches` batches are the warm-up; once `seconds` have passed after
    them it sets `done` and ignores later batches, so the table always
    reflects whole batches. `wrap` lets the traced run interpose on the
    upsert call."""

    def __init__(self, table_dir: str, warm_batches: int, seconds: float, wrap=None):
        upsert = foreach_batch_upsert(table_dir)
        self.upsert = wrap(upsert) if wrap else upsert
        self.warm_batches = warm_batches
        self.seconds = seconds
        self.warm_done: float | None = None  # perf_counter at the end of the warm-up
        self.applied: list[int] = []
        self.done = threading.Event()

    def __call__(self, batch_df, epoch_id: int) -> None:
        if self.done.is_set():
            # consume without writing: the stateful operator only commits
            # its state once every partition of the batch has been read
            batch_df.write.format("noop").mode("overwrite").save()
            return
        self.upsert(batch_df, epoch_id)
        self.applied.append(epoch_id)
        now = time.perf_counter()
        if len(self.applied) == self.warm_batches:
            self.warm_done = now
        elif self.warm_done is not None and now - self.warm_done >= self.seconds:
            self.done.set()


def start_stream(spark, records_dir: str, fetch, sink, checkpoint: str):
    records = file_record_stream(spark, records_dir)
    state = latest_state_stream(content_operation_stream(records, fetch=fetch))
    return (
        state.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_stream(spark, records_dir, fetch, work, warm_batches, seconds, wrap=None):
    """Run one stream into a fresh table under `work`: `warm_batches`
    batches, then batches for `seconds` more (fewer if the input runs out).
    Returns (sink, progress of the batches after the warm-up, failure), with
    failure the exception the stream ended with, or None."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sink = StoppingSink(os.path.join(work, "table"), warm_batches, seconds, wrap)
    query = start_stream(spark, records_dir, fetch, sink, os.path.join(work, "checkpoint"))
    try:
        while query.isActive and not sink.done.wait(0.05):
            pass
        # let the last applied batch commit and post its progress
        grace = time.perf_counter() + 10
        while query.isActive and time.perf_counter() < grace and (
            query.lastProgress is None or query.lastProgress.batchId < sink.applied[-1]
        ):
            time.sleep(0.02)
    finally:
        # a failure counts only if the stream ended on its own; stopping it
        # interrupts the batch after the last applied one
        failure = None if query.isActive else query.exception()
        query.stop()
    measured = set(sink.applied[warm_batches:])
    return sink, [p for p in query.recentProgress if p.batchId in measured], failure


def files_by_batch(checkpoint: str) -> dict[int, set[str]]:
    """Which input files each batch read, from the file source's log (a
    compacted log file repeats the entries of the batches before it)."""
    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out.setdefault(entry["batchId"], set()).add(os.path.basename(entry["path"]))
    return out


def read_table(spark, table_dir: str) -> dict[tuple, tuple]:
    rows = spark.read.parquet(table_dir).collect()
    return {
        (r.organization_id, r.id, r.branch, r.published): (
            r.last_operation, r.last_us, gen.body_digest(r.body)
        )
        for r in rows
    }


def check_table(spark, work: str, applied: list[int], meta_files: list, expect_digest=None):
    """Compare the table a stream left with the closed-form state of the
    files its applied batches read. Returns (ok, message)."""
    by_batch = files_by_batch(os.path.join(work, "checkpoint"))
    idx = sorted({int(n.split("-")[1].split(".")[0]) for b in applied for n in by_batch.get(b, ())})
    if len(idx) != len(applied):
        return False, f"{len(applied)} applied batches read {len(idx)} files"
    want = gen.expected_table([meta_files[i] for i in idx])
    got = read_table(spark, os.path.join(work, "table"))
    got_digest, want_digest = gen.table_digest(got), expect_digest or gen.table_digest(want)
    if got_digest == want_digest:
        return True, f"table matches closed form ({len(got)} keys, {len(idx)} files)"
    wrong = [k for k in set(want) | set(got) if want.get(k) != got.get(k)]
    return False, (
        f"table digest {got_digest} != expected {want_digest}; "
        f"{len(wrong)} keys differ from closed form, e.g. {wrong[:3]}"
    )


class CountingStore(gen.FileStore):
    """The file-backed fetcher, also appending each call's duration to a
    per-process log (fetches run in Python workers, not in this process)."""

    def __init__(self, pack_path: str, log_dir: str):
        super().__init__(pack_path)
        self.log_dir = log_dir

    def __call__(self, url: str) -> bytes:
        t0 = time.perf_counter()
        try:
            return super().__call__(url)
        finally:
            with open(os.path.join(self.log_dir, f"{os.getpid()}.log"), "a") as f:
                f.write(f"{time.perf_counter() - t0}\n")

    def totals(self) -> tuple[int, float]:
        """(calls, seconds) summed over every worker's log."""
        times = []
        for name in os.listdir(self.log_dir):
            with open(os.path.join(self.log_dir, name)) as f:
                times += [float(x) for x in f.read().split()]
        return len(times), sum(times)
