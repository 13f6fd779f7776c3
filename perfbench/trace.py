"""In-memory spans around the calls `streaming/runner.py` makes into each
layer, installed only for a traced run and removed afterwards.

A span records its name, start, end, parent, batch id, the Spark jobs
started while it was open (the job-id delta) and any row or file counts.
Row counts that need a Spark job are taken after the round from the
checkpointed frames the layer returned, so they add no job to any span.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.batch = None
        self._main = threading.main_thread()
        self._stacks: dict[int, list[dict]] = {}
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._pending: list[tuple[dict, str, object]] = []
        # seconds spent in the tracer's own bookkeeping inside spans
        self.overhead_s = 0.0

    # ---- spans -------------------------------------------------------
    def jobs_started(self) -> int:
        """Spark jobs submitted so far in this application."""
        # DAGScheduler.nextJobId is an AtomicInteger; py4j hands back its value
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _stack(self) -> list[dict]:
        return self._stacks.setdefault(threading.get_ident(), [])

    def _parent(self) -> dict | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # pool threads report to the innermost span open on the main thread
        main = self._stacks.get(self._main.ident) or []
        return main[-1] if main else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._parent()
        rec = {
            "name": name,
            "id": None,
            "parent": parent["id"] if parent else None,
            "batch": self.batch,
            "jobs0": self.jobs_started(),
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack = self._stack()
        stack.append(rec)
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t1 = time.perf_counter()
            stack.pop()
            rec["jobs"] = self.jobs_started() - rec.pop("jobs0")
            self.overhead_s += time.perf_counter() - t1

    def count_later(self, rec: dict, key: str, df) -> None:
        """Record df.count() under rec[key] once the round has ended."""
        self._pending.append((rec, key, df))

    def settle(self) -> float:
        """Run the deferred row counts; returns the seconds they took."""
        t0 = time.perf_counter()
        for rec, key, df in self._pending:
            rec[key] = rec.get(key, 0) + df.count()
        self._pending.clear()
        return time.perf_counter() - t0

    # ---- patching ----------------------------------------------------
    def patch(self, owner, attr: str, make) -> None:
        """Replace owner.attr with make(original) until restore()."""
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, make(orig))

    def restore(self) -> None:
        for owner, attr, old in reversed(self._undo):
            if old is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._undo.clear()

    def wrap(self, name: str):
        """make() for patch(): a plain span around every call."""

        def make(fn):
            @functools.wraps(fn)
            def traced(*a, **kw):
                with self.span(name):
                    return fn(*a, **kw)

            return traced

        return make


_MISSING = object()


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def instrument_ingest(tracer: Tracer, pipe, log, published_at: dict[int, float]) -> None:
    """Wrap the layer calls IngestPipeline.process_batch makes, for `pipe`
    whose on_imported publishes to the BroadcastLog `log`; the time each
    announcement is published lands in published_at[seq]."""
    from blockchain_indexer_spark.operators import caches, extract
    from blockchain_indexer_spark.streaming import runner

    def make_promote(fn):
        @functools.wraps(fn)
        def promote(block_staging, tx_staging, log_staging, **kw):
            with tracer.span("promote") as rec:
                out = fn(block_staging, tx_staging, log_staging, **kw)
            tracer.count_later(rec, "rows_in", tx_staging)
            tracer.count_later(rec, "rows_out", out["transaction_raw"])
            return out

        return promote

    def make_classify(fn):
        @functools.wraps(fn)
        def classify(df, *a, **kw):
            with tracer.span("classify.plan"):
                out = fn(df, *a, **kw)
            # the runner checkpoints out.drop("logs") eagerly: time that
            # checkpoint as the classifier's execution
            drop = out.drop

            def drop_then_time(*cols):
                dropped = drop(*cols)
                ckpt = dropped.localCheckpoint

                def timed_ckpt(*ca, **ckw):
                    with tracer.span("classify.exec") as rec:
                        res = ckpt(*ca, **ckw)
                    tracer.count_later(rec, "rows_out", res)
                    return res

                dropped.localCheckpoint = timed_ckpt
                return dropped

            out.drop = drop_then_time
            return out

        return classify

    def make_append(fn):
        @functools.wraps(fn)
        def _append(name, df, block_col):
            t0 = time.perf_counter()
            path = pipe._table_path(name)
            before = _dir_files(path)
            tracer.overhead_s += time.perf_counter() - t0
            with tracer.span("append.table", table=name) as rec:
                fn(name, df, block_col)
            t1 = time.perf_counter()
            new = {p: s for p, s in _dir_files(path).items() if p not in before}
            rec["files_out"], rec["bytes_out"] = len(new), sum(new.values())
            tracer.overhead_s += time.perf_counter() - t1

        return _append

    def make_lock(fn):
        @functools.wraps(fn)
        def _import_lock():
            cm = fn()

            @contextlib.contextmanager
            def timed():
                with tracer.span("runner.lock"):
                    cm.__enter__()
                try:
                    yield
                except BaseException as e:
                    if not cm.__exit__(type(e), e, e.__traceback__):
                        raise
                else:
                    cm.__exit__(None, None, None)

            return timed()

        return _import_lock

    def make_stale(fn):
        @functools.wraps(fn)
        def stale(*a, **kw):
            out = fn(*a, **kw)
            refresh = tracer._parent()
            if refresh is not None:
                tracer.count_later(refresh, "stale_keys", out)
            return out

        return stale

    class Pool(ThreadPoolExecutor):
        """The runner's thread pools: the one running the nine appends is
        the `append` span (one interval, its jobs overlap)."""

        def __enter__(self):
            self._span = None
            return super().__enter__()

        def submit(self, fn, *a, **kw):
            if self._span is None and getattr(fn, "__name__", "") == "_append":
                self._span = tracer.span("append")
                self._span.__enter__()
            return super().submit(fn, *a, **kw)

        def __exit__(self, *exc):
            try:
                return super().__exit__(*exc)
            finally:
                if self._span is not None:
                    self._span.__exit__(None, None, None)

    tracer.patch(runner, "promote", make_promote)
    tracer.patch(runner, "classify", make_classify)
    tracer.patch(runner, "extract_all", tracer.wrap("extract.extract_all"))
    tracer.patch(runner, "ThreadPoolExecutor", lambda _fn: Pool)
    tracer.patch(extract, "assemble_transactions", tracer.wrap("extract.assemble"))
    tracer.patch(caches, "stale_balance_addresses", make_stale)
    tracer.patch(caches, "stale_trust_addresses", make_stale)
    tracer.patch(pipe, "read_final", tracer.wrap("runner.read_final"))
    tracer.patch(pipe, "_append", make_append)
    tracer.patch(pipe, "refresh_caches", tracer.wrap("cache_refresh"))
    tracer.patch(pipe, "_import_lock", make_lock)

    def make_publish(fn):
        @functools.wraps(fn)
        def publish(hashes):
            published_at[log.end_cursor] = time.perf_counter()
            with tracer.span("api.publish"):
                return fn(hashes)

        return publish

    # the pipeline holds log.publish as its on_imported callback
    tracer.patch(pipe, "on_imported", make_publish)


def self_time(spans: list[dict], rec: dict) -> float:
    """rec's duration minus the part of it its child spans cover."""
    kids = sorted(
        (s["start"], s["end"]) for s in spans if s["parent"] == rec["id"] and "end" in s
    )
    covered, lo, hi = 0.0, None, None
    for a, b in kids:
        a, b = max(a, rec["start"]), min(b, rec["end"])
        if hi is None or a > hi:
            if hi is not None:
                covered += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    if hi is not None:
        covered += hi - lo
    return max(0.0, rec["end"] - rec["start"] - covered)
