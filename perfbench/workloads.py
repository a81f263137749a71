"""The benchmark's workloads: set-up, one measured call, output check.

``crawl_filter`` runs ``filter --dedup-history`` over a generated crawl
whose history was seeded from an earlier, overlapping crawl.
``stream_ingest`` is a closed loop with one client: it lands a small
increment of page files, then runs ``stream-filter --dedup`` on the
same checkpoint, so every call processes only the new files.

Every run starts from the on-disk state its set-up left.  Each
crawl_filter call gets a fresh output directory and the history restored
from the set-up copy; stream_ingest calls continue from the checkpoint
the previous increment committed.  The check after each call is untimed
and compares the written rows with DuckDB's evaluation of the repo's
oracle SQL over the same input.
"""

from __future__ import annotations

import shutil
import sys
import time
from contextlib import redirect_stdout
from dataclasses import replace
from pathlib import Path

import numpy as np

from perfbench import corpus as C
from perfbench.oracle import Oracle

CRAWL = C.CorpusSpec(n_docs=4_000)
#: the earlier crawl that seeds the history
EARLIER = C.CorpusSpec(n_docs=1_500, n_long_docs=1)
#: share of the crawl that re-crawls the earlier one (same url and text)
OVERLAP = 0.2

STREAM_SEED_DOCS = 400
INCREMENT_FILES = 1
INCREMENT_DOCS = 200  # per file
RECRAWL = 0.25  # share of an increment's urls seen in earlier increments
STREAM = C.CorpusSpec(n_docs=INCREMENT_FILES * INCREMENT_DOCS, n_long_docs=0)


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    return path


def restore_dir(src: Path, dst: Path) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def run_cli(argv: list[str]) -> int:
    """``cli.main`` with its stats line sent to stderr: the last line of
    the benchmark's stdout is its own result."""
    from mysql_data_quality_spark import cli

    with redirect_stdout(sys.stderr):
        return cli.main(argv)


def seed_history(pages: Path, hist: Path) -> None:
    """Commit the hashes of ``pages`` to a fresh history at ``hist``."""
    from pyspark.sql import SparkSession

    from mysql_data_quality_spark.operators.dedup import dedup_against_history

    spark = SparkSession.getActiveSession()
    dedup_against_history(
        spark.read.parquet(str(pages)), "url", "text", str(fresh_dir(hist)),
        update_history=True,
    )


def default_rules() -> tuple:
    from mysql_data_quality_spark.core.config import rules_from_env
    from mysql_data_quality_spark.rules.heuristics import profile_rules

    return rules_from_env(base=profile_rules("default"))


class CrawlFilter:
    """``filter --dedup-history H`` on a crawl that overlaps H's crawl."""

    name = "crawl_filter"

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.pages = work / "crawl"
        self.earlier = work / "earlier"
        self.hist_setup = work / "history.setup"
        self.hist = work / "history"
        self.out = work / "out"
        self.oracle: Oracle | None = None

    n_docs = CRAWL.n_docs

    def argv(self) -> list[str]:
        return [
            "filter", "--input", str(self.pages), "--output", str(self.out),
            "--profile", "default", "--buckets", "16",
            "--dedup-history", str(self.hist),
        ]

    def setup(self) -> None:
        earlier = C.generate(EARLIER, self.seed, url_tag="c0")
        crawl = C.with_overlap(
            CRAWL, self.seed + 1, earlier, OVERLAP, url_tag="c1",
            id_offset=EARLIER.n_docs,
        )
        C.write(earlier, fresh_dir(self.earlier))
        C.write(crawl, fresh_dir(self.pages))
        # the earlier crawl's hashes go to H through the program's own
        # history commit, then one call of the measured command warms up
        seed_history(self.earlier, self.hist)
        restore_dir(self.hist, self.hist_setup)
        self.prepare()
        if self.run():
            raise RuntimeError("warm-up filter run failed")

    def prepare(self) -> None:
        restore_dir(self.hist_setup, self.hist)
        fresh_dir(self.out)

    def run(self) -> int:
        return run_cli(self.argv())

    def check(self, rc: int) -> bool:
        if self.oracle is None:  # built on first use: not set-up time
            self.oracle = Oracle()
            self.oracle.expect_crawl(
                self.pages, self.earlier, default_rules(), self.seed
            )
        return (
            rc == 0
            and self.oracle.mismatches(self.out / "data") == 0
            and any((self.out / "metrics").glob("*.json"))
        )

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()


class StreamIngest:
    """Closed loop: land an increment, run ``stream-filter`` on it."""

    name = "stream_ingest"
    n_docs = STREAM.n_docs

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.inbox = work / "inbox"
        self.staging = work / "staging"
        self.out = work / "out"
        self.ck = work / "checkpoint"
        self.oracle: Oracle | None = None
        self.rng = np.random.default_rng(seed)
        self.seen: list[str] = []
        self.increment = 0

    def argv(self) -> list[str]:
        return [
            "stream-filter", "--input-dir", str(self.inbox),
            "--output", str(self.out), "--checkpoint", str(self.ck),
            "--dedup", "--files-per-trigger", "1",
        ]

    def setup(self) -> None:
        for d in (self.inbox, self.staging, self.out, self.ck):
            fresh_dir(d)
        self.inbox.mkdir(parents=True)
        first = C.generate(
            replace(STREAM, n_docs=STREAM_SEED_DOCS), self.seed, url_tag="s0"
        )
        C.write(first, self.inbox, n_files=1, prefix="seed")
        self.seen = list(first["url"])
        self.increment = 0
        # seeds the checkpoint and first-seen state, and warms up
        if run_cli(self.argv()):
            raise RuntimeError("seeding stream-filter run failed")

    def _land(self) -> Path:
        """Write the next increment to a staging directory."""
        i = self.increment = self.increment + 1
        n_old = int(STREAM.n_docs * RECRAWL)
        fresh = C.generate(
            replace(STREAM, n_docs=STREAM.n_docs - n_old),
            self.seed * 1000 + i, url_tag=f"s{i}", id_offset=i * 10_000,
        )
        old = self.rng.choice(len(self.seen), size=n_old, replace=False)
        recrawl = C.generate(
            replace(STREAM, n_docs=n_old), self.seed * 1000 + 500 + i,
            url_tag=f"r{i}",
        )
        recrawl["url"] = [self.seen[j] for j in old]
        cols = C.concat(fresh, recrawl)
        order = self.rng.permutation(len(cols["url"]))
        cols = C.take(cols, order)
        stage = fresh_dir(self.staging / f"inc{i:05d}")
        C.write(cols, stage, n_files=INCREMENT_FILES, prefix=f"inc{i:05d}")
        return stage

    def prepare(self) -> None:
        """Land the next increment: written to staging, then renamed into
        the inbox (same filesystem, so each file lands whole)."""
        stage = self._land()
        self.before = {p.name for p in self.out.glob("batch_id=*")}
        self.landed = []
        for f in sorted(stage.glob("*.parquet")):
            f.rename(self.inbox / f.name)
            self.landed.append(self.inbox / f.name)

    def run(self) -> int:
        return run_cli(self.argv())

    def check(self, rc: int) -> bool:
        """The new ``batch_id`` partitions hold exactly the decisions of
        the landed rows whose url was never seen before."""
        if self.oracle is None:
            self.oracle = Oracle()
        con = self.oracle.con
        con.execute("create or replace table seen(url varchar)")
        con.executemany("insert into seen values (?)", [(u,) for u in self.seen])
        landed = ", ".join(f"'{f}'" for f in self.landed)
        self.oracle.expect_rows(
            f"select * from read_parquet([{landed}]) "
            f"where url not in (select url from seen)",
            default_rules(),
        )
        self.seen += [
            u for (u,) in con.execute(
                f"select url from read_parquet([{landed}])"
            ).fetchall()
        ]
        written = [
            f"'{f}'"
            for p in self.out.glob("batch_id=*") if p.name not in self.before
            for f in p.glob("*.parquet")
        ]
        if not written:
            return con.execute("select count(*) from expected").fetchone()[0] == 0
        diff = con.execute(
            f"with a as (select url, keep, drop_reason, scrubbed_text "
            f"from read_parquet([{', '.join(written)}])) "
            f"select (select count(*) from (select * from expected except all "
            f"select * from a)) + (select count(*) from (select * from a "
            f"except all select * from expected))"
        ).fetchone()[0]
        return rc == 0 and diff == 0

    def close(self) -> None:
        if self.oracle is not None:
            self.oracle.close()


def call(wl) -> tuple[float, bool]:
    """One measured call: (seconds from its input being ready to the
    command returning, output correct)."""
    wl.prepare()
    t0 = time.perf_counter()
    rc = wl.run()
    dt = time.perf_counter() - t0
    return dt, wl.check(rc)


WORKLOADS = {w.name: w for w in (CrawlFilter, StreamIngest)}
