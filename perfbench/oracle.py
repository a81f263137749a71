"""Independent output checks, run untimed after every measured call.

The expected rows come from DuckDB evaluating the repo's oracle SQL
(``quality_filter.decisions_sql``, ``dedup.dedup_exact_corpus_sql``)
over the same generated parquet the program read, never from Spark.
DuckDB evaluates the decision SQL at 7-23 ms per document (82 s for
12k generated pages on 4 threads), so a batch check compares the set of
written urls in full and the decision columns of a seeded sample of
``SAMPLE`` urls; a streaming increment is small enough to compare in
full.  A relation this small fits one row group, which DuckDB runs on
one thread, so the decisions are evaluated in ``CHUNKS`` parallel
queries.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb
import pyarrow as pa

from mysql_data_quality_spark.operators.dedup import (
    dedup_exact_corpus_sql,
    normalized_text_sql,
)
from mysql_data_quality_spark.pipeline import quality_filter as QF

DECISION_COLS = "url, keep, drop_reason, scrubbed_text"
SAMPLE = 300
CHUNKS = 4


def _glob(path: Path) -> str:
    return f"read_parquet('{path}/*.parquet')"


class Oracle:
    """One DuckDB connection holding the expected rows of a workload."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("set threads to 4")

    def close(self) -> None:
        self.con.close()

    def expect_crawl(
        self, pages: Path, earlier: Path, rules: tuple, seed: int
    ) -> None:
        """Expected output of ``filter --dedup-history`` over ``pages``:
        within-batch exact dedup (min url per normalized-text group),
        minus texts whose normalized md5 is in the history seeded from
        the ``earlier`` crawl; then the rule decisions of a seeded
        sample."""
        c = self.con
        c.execute(
            f"create or replace view pages as "
            f"select url, warc_ts, text, lang from {_glob(pages)}"
        )
        c.execute(
            "create or replace view batch as "
            + dedup_exact_corpus_sql("pages", "url", "text")
        )
        c.execute(
            f"create or replace view seen as select distinct "
            f"md5({normalized_text_sql('text')}) as h from {_glob(earlier)}"
        )
        c.execute(
            f"create or replace table expected_urls as select url from batch "
            f"where md5({normalized_text_sql('text')}) "
            f"not in (select h from seen)"
        )
        c.execute(
            f"create or replace table sample as select * from batch "
            f"semi join expected_urls using (url) "
            f"order by md5(url || '{seed}') limit {SAMPLE}"
        )
        self.expect_rows("select * from sample", rules)

    def mismatches(self, out_data: Path) -> int:
        """Written urls not expected plus expected urls not written, plus
        sampled rows whose decision columns differ (multiset differences,
        so a duplicated row also counts)."""
        actual = (
            f"read_parquet('{out_data}/**/*.parquet', hive_partitioning = true)"
        )
        self.con.execute(
            f"create or replace temp table actual as select {DECISION_COLS} "
            f"from {actual}"
        )
        return self.con.execute(
            "select (select count(*) from (select url from expected_urls "
            "except all select url from actual)) "
            "+ (select count(*) from (select url from actual "
            "except all select url from expected_urls)) "
            "+ (select count(*) from (select * from expected except all "
            "select a.* from actual a semi join sample s using (url)))"
        ).fetchone()[0]

    def expect_rows(self, rows_sql: str, rules: tuple) -> None:
        """Expected decisions of an arbitrary pages relation, as table
        ``expected``."""
        self.con.execute(f"create or replace table rows as {rows_sql}")

        def chunk(i: int) -> pa.Table:
            cur = self.con.cursor()
            try:
                part = f"(select * from rows where hash(url) % {CHUNKS} = {i})"
                return cur.execute(QF.decisions_sql(part, rules)).arrow()
            finally:
                cur.close()

        with ThreadPoolExecutor(CHUNKS) as pool:
            parts = list(pool.map(chunk, range(CHUNKS)))
        self.con.register("expected_parts", pa.concat_tables(parts))
        self.con.execute(
            "create or replace table expected as select * from expected_parts"
        )
        self.con.unregister("expected_parts")
