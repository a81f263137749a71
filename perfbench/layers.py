"""The traced run: each workload re-executed layer by layer.

Spark fuses lazy calls into one job, so a span around a lazy call would
time only plan construction.  Each layer is therefore timed by
materializing a cumulative prefix of the plan into the ``noop`` sink (or
into the real sink for write layers), and a stacked layer's figure is
the marginal over the prefix below it.  The composed command then runs
once more under the same event log.  Every layer this run does not
exercise reports 0.

Outputs, under ``.perfbench/trace/<workload>-<seed>/``: ``spans.jsonl``
(one span per line) and ``layers.json`` (the per-layer metrics plus the
event-log rollup keyed by job group).
"""

from __future__ import annotations

import json
import math
import shutil
import statistics
import time
from pathlib import Path

from perfbench import corpus as C
from perfbench.trace import COUNTERS, Tracer, read_event_log, rollup
from perfbench.workloads import fresh_dir, restore_dir, default_rules

FEATURES = (
    "n_words", "n_chars", "mean_word_len", "stop_count", "stop_fraction",
    "distinct_fraction", "symbol_ratio", "digit_fraction",
    "dup_line_fraction", "dup_paragraph_fraction", "dup_2gram_fraction",
    "c4_kept_line_fraction", "has_lorem_ipsum", "has_curly_brace",
    "det_lang", "avg_logp",
)

#: layers whose spans run Spark jobs get the five event-log counters,
#: averaged over the spans of that name (one per round or increment)
SPARK_LAYERS = (
    "sources.read", "functions.text.tokenize", "rules.features", "rules.decide",
    "rules.langid_trained", "rules.arpa", "pipeline.checkpoint.write",
    "operators.dedup.history_probe", "operators.dedup.history_commit",
    "operators.textstats.fingerprint_pairs", "operators.dedup.components",
    "operators.dedup.minhash_pairs", "streaming", "cli",
)
_COUNTER_UNITS = {
    "executor_run_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "tasks": "count",
}

#: (name, unit) of every per-layer metric, in BENCHMARK.json order
PER_LAYER = (
    [
        ("sources.read_s", "s"), ("sources.rows", "count"),
        ("functions.text.tokenize_s", "s"),
        ("rules.features_s", "s"), ("rules.hits_s", "s"),
        ("rules.decide_s", "s"),
    ]
    + [(f"rules.feature.{f}_s", "s") for f in FEATURES]
    + [
        ("rules.plan_build_s", "s"),
        ("rules.langid_trained_s", "s"), ("rules.arpa_s", "s"),
        ("pipeline.observe_metrics_s", "s"),
        ("pipeline.checkpoint.write_s", "s"),
        ("pipeline.checkpoint.files", "count"),
        ("pipeline.checkpoint.bytes", "bytes"),
        ("operators.dedup.exact_s", "s"),
        ("operators.dedup.history_probe_s", "s"),
        ("operators.dedup.history_commit_s", "s"),
        ("operators.dedup.history_dropped", "count"),
        ("operators.dedup.history_rows", "count"),
        ("operators.textstats.fingerprint_pairs_s", "s"),
        ("operators.textstats.fingerprint_pairs", "count"),
        ("operators.dedup.minhash_pairs_s", "s"),
        ("operators.dedup.minhash_pairs", "count"),
        ("operators.dedup.components_s", "s"),
        ("operators.dedup.near_history_probe_s", "s"),
        ("operators.dedup.near_dropped", "count"),
        ("operators.dedup.near_history_commit_s", "s"),
        ("reports.write_s", "s"),
        ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
        ("streaming.query_planning_s", "s"), ("streaming.wal_commit_s", "s"),
        ("streaming.latest_offset_s", "s"), ("streaming.batches", "count"),
        ("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes"),
        ("cli.run_s", "s"), ("trace.coverage", "ratio"),
    ]
    + [
        (f"{layer}.{c}", _COUNTER_UNITS[c])
        for layer in SPARK_LAYERS for c in COUNTERS
    ]
)

#: near-duplicate side corpus for the dedup operator layers
NEAR = C.CorpusSpec(
    n_docs=400, cluster_share=0.3, boilerplate_paras=1,
    boilerplate_pages=100, n_long_docs=0, chrome_share=0.0,
)
PLAN_BUILD_CALLS = 5
PREFIX_ROUNDS = 2


def _noop(df, count: bool = False) -> int | None:
    """Materialize ``df`` into the noop sink; optionally count its rows
    on the same job through an Observation."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = None
    if count:
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    return int(obs.get["n"]) if obs is not None else None


def _marginal(tr: Tracer, name: str, base: str) -> float:
    return tr.best(name) - tr.best(base)


def _tree_size(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _rule_layers(tr: Tracer, spark, pages, rules, m: dict) -> None:
    """The rule plan as stacked prefixes, then each feature alone."""
    from pyspark.sql import functions as F

    from mysql_data_quality_spark.functions import text as T
    from mysql_data_quality_spark.pipeline import quality_filter as QF
    from mysql_data_quality_spark.rules import heuristics

    t = F.col("text")
    toks = pages.select(
        "*",
        T.tokens_col(t).alias("_toks"),
        T.lines_col(t).alias("_lines"),
        T.paragraphs_col(t).alias("_paras"),
    )
    feats = heuristics.feature_exprs(
        "text", toks=F.col("_toks"), lines=F.col("_lines"),
        paras=F.col("_paras"),
    )
    with_feats = toks.select("*", *[feats[f].alias(f) for f in FEATURES])
    hits = heuristics.hit_cols("text", "lang", rules)
    with_hits = with_feats.select(
        "*", *[c.alias(f"hit_{n}") for n, c in hits.items()]
    )
    # the stacked prefixes run in two interleaved rounds, best of two:
    # the first round also finishes warming the JIT
    for _ in range(PREFIX_ROUNDS):
        with tr.span("sources.read"):
            m["sources.rows"] = _noop(pages, count=True)
        with tr.span("functions.text.tokenize"):
            _noop(toks)
        with tr.span("rules.features"):
            _noop(with_feats)
        with tr.span("rules.hits"):
            _noop(with_hits)
        with tr.span("rules.decide"):
            _noop(QF.annotate(pages, rules=rules))
    # one round: 16 more jobs per round would not fit the run's time
    for f in FEATURES:
        with tr.span(f"rules.feature.{f}"):
            _noop(toks.select("*", feats[f].alias(f)))
    m["sources.read_s"] = tr.best("sources.read")
    m["functions.text.tokenize_s"] = _marginal(
        tr, "functions.text.tokenize", "sources.read"
    )
    m["rules.features_s"] = _marginal(tr, "rules.features", "functions.text.tokenize")
    m["rules.hits_s"] = _marginal(tr, "rules.hits", "rules.features")
    m["rules.decide_s"] = _marginal(tr, "rules.decide", "rules.hits")
    for f in FEATURES:
        m[f"rules.feature.{f}_s"] = _marginal(
            tr, f"rules.feature.{f}", "functions.text.tokenize"
        )


def _composed(tr: Tracer, wl, m: dict) -> bool:
    """The user-facing command once, under the same event log."""
    with tr.span("bench.prepare"):
        wl.prepare()
    with tr.span("cli") as s:
        rc = wl.run()
    m["cli.run_s"] = s["end"] - s["start"]
    with tr.span("bench.check"):
        return wl.check(rc)


def _plan_build(tr: Tracer, build) -> float:
    """Median driver seconds of one lazy plan-building call."""
    times = []
    with tr.span("rules.plan_build"):
        for _ in range(PLAN_BUILD_CALLS):
            t0 = time.perf_counter()
            build()
            times.append(time.perf_counter() - t0)
    return statistics.median(times)


def write_arpa(texts: list[str], path: Path, top: int = 3000) -> Path:
    """A bigram ARPA model fitted to ``texts``: the ``top`` words plus
    every bigram of them seen at least 3 times, absolute discounting,
    ``<unk>`` for the rest."""
    import collections
    import re

    ws = re.compile(r"[ \t\n\x0B\f\r]+")
    uni: collections.Counter = collections.Counter()
    bi: collections.Counter = collections.Counter()
    for t in texts:
        toks = [w.lower() for w in ws.split(t) if w]
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    vocab = {w for w, _ in uni.most_common(top)}
    total = sum(uni.values())
    d = 0.5
    big = {k: c for k, c in bi.items() if c >= 3 and k[0] in vocab and k[1] in vocab}
    follow: collections.Counter = collections.Counter(k[0] for k in big)
    lines = [
        "\\data\\", f"ngram 1={len(vocab) + 1}", f"ngram 2={len(big)}", "",
        "\\1-grams:",
        f"{math.log10(1e-5):.6f}\t<unk>\t0",
    ]
    for w in sorted(vocab):
        bo = math.log10(d * follow[w] / uni[w]) if follow[w] else 0.0
        lines.append(f"{math.log10(uni[w] / total):.6f}\t{w}\t{bo:.6f}")
    lines += ["", "\\2-grams:"]
    for (a, b), c in sorted(big.items()):
        lines.append(f"{math.log10((c - d) / uni[a]):.6f}\t{a} {b}")
    lines += ["", "\\end\\", ""]
    path.write_text("\n".join(lines))
    return path


def _udf_layers(tr: Tracer, spark, wl, rules, m: dict) -> None:
    """Marginal of plugging each trained model into the rule plan, over
    the earlier crawl (best of the interleaved rounds)."""
    from mysql_data_quality_spark.pipeline import quality_filter as QF
    from mysql_data_quality_spark.rules.arpa import parse_arpa_file
    from mysql_data_quality_spark.rules.langid_trained import train_langid

    pages = spark.read.parquet(str(wl.earlier)).select("url", "text", "lang")
    with tr.span("rules.model_build"):
        # a short fit: the scoring cost does not depend on the weights
        model = train_langid(pages, max_iter=5, max_rows=600)
        texts = [r["text"] for r in pages.select("text").collect()]
        lm = parse_arpa_file(str(write_arpa(texts, wl.work / "lm.arpa")))
    dec = QF.DECISION_COLS
    for _ in range(PREFIX_ROUNDS):
        with tr.span("rules.udf_base"):
            _noop(QF.annotate(pages, rules=rules).select(*dec))
        with tr.span("rules.langid_trained"):
            _noop(QF.annotate(pages, rules=rules, langid_model=model).select(*dec))
        with tr.span("rules.arpa"):
            _noop(QF.annotate(pages, rules=rules, lm=lm).select(*dec))
    m["rules.langid_trained_s"] = _marginal(tr, "rules.langid_trained", "rules.udf_base")
    m["rules.arpa_s"] = _marginal(tr, "rules.arpa", "rules.udf_base")


def _near_layers(tr: Tracer, spark, wl, seed: int, m: dict) -> None:
    """The near-duplicate operators of ``filter --dedup-near fingerprint
    --near-history``, on a clustered side corpus."""
    from mysql_data_quality_spark.operators.dedup import (
        commit_near_history,
        deduplicated_corpus,
        minhash_lsh_pairs,
        near_dedup_against_history,
    )
    from mysql_data_quality_spark.operators.textstats import (
        fingerprint_duplicate_pairs,
    )

    src = wl.work / "near"
    with tr.span("bench.near_corpus"):
        C.write(C.generate(NEAR, seed + 3, url_tag="n0"), fresh_dir(src))
    near = spark.read.parquet(str(src)).select("url", "text", "lang")
    hist = str(fresh_dir(wl.work / "near_history"))
    geo = dict(k=3, num_hashes=32, bands=8)
    with tr.span("operators.textstats.fingerprint_pairs"):
        pairs = fingerprint_duplicate_pairs(
            near, "url", "text", k=8, w=8, min_shared=3
        )
        prints = pairs._persisted_prints
        pairs = pairs.localCheckpoint()
        m["operators.textstats.fingerprint_pairs"] = pairs.count()
    with tr.span("operators.dedup.components"):
        kept = deduplicated_corpus(near, pairs, "url").localCheckpoint()
        kept.count()
        prints.unpersist()
    with tr.span("operators.dedup.minhash_pairs"):
        mh = minhash_lsh_pairs(kept, "url", "text", threshold=0.5, **geo)
        m["operators.dedup.minhash_pairs"] = mh.count()
        mh._persisted_sigs.unpersist()
    with tr.span("operators.dedup.near_history_probe"):
        probe = near_dedup_against_history(
            kept, "url", "text", hist, threshold=0.5,
            update_history=False, **geo,
        )
        m["operators.dedup.near_dropped"] = NEAR.n_docs - probe.count()
    with tr.span("operators.dedup.near_history_commit"):
        commit_near_history(probe, "url", "text", hist, **geo)
    for name in (
        "operators.textstats.fingerprint_pairs", "operators.dedup.components",
        "operators.dedup.minhash_pairs", "operators.dedup.near_history_probe",
        "operators.dedup.near_history_commit",
    ):
        m[f"{name}_s"] = tr.duration(name)


def trace_crawl(tr: Tracer, spark, wl, seed: int, m: dict) -> bool:
    from mysql_data_quality_spark.operators.dedup import (
        commit_history,
        dedup_against_history,
        dedup_exact_corpus,
    )
    from mysql_data_quality_spark.pipeline import quality_filter as QF
    from mysql_data_quality_spark.pipeline.checkpoint import CheckpointedWriter
    from mysql_data_quality_spark.reports import write_unified_report

    rules = default_rules()
    dec_cols = QF.DECISION_COLS
    pages = spark.read.parquet(str(wl.pages)).select("url", "warc_ts", "text", "lang")
    _rule_layers(tr, spark, pages, rules, m)
    m["rules.plan_build_s"] = _plan_build(
        tr, lambda: QF.annotate(pages, rules=rules).select(*dec_cols)
    )
    ann = QF.annotate(pages, rules=rules)
    with tr.span("pipeline.observe_metrics"):
        with tr.span("pipeline.observe_metrics.base"):
            _noop(ann.select(*dec_cols))
        observed, obs = QF.observe_metrics(ann, rules=rules)
        with tr.span("pipeline.observe_metrics.observed"):
            _noop(observed.select(*dec_cols))
    m["pipeline.observe_metrics_s"] = _marginal(
        tr, "pipeline.observe_metrics.observed", "pipeline.observe_metrics.base"
    )
    with tr.span("reports.write"):
        write_unified_report(
            QF.metrics_from_observation(obs.get, rules=rules), "pages",
            wl.work / "trace_reports",
        )
    m["reports.write_s"] = tr.duration("reports.write")
    with tr.span("operators.dedup.exact"):
        exact_rows = _noop(dedup_exact_corpus(pages, "url", "text"), count=True)
    m["operators.dedup.exact_s"] = tr.duration("operators.dedup.exact")
    with tr.span("bench.restore"):
        restore_dir(wl.hist_setup, wl.hist)
    with tr.span("operators.dedup.history_probe"):
        probe = dedup_against_history(
            pages, "url", "text", str(wl.hist),
            update_history=False, keep_hash_col=True,
        )
        m["operators.dedup.history_dropped"] = exact_rows - probe.count()
        m["operators.dedup.history_rows"] = spark.read.parquet(str(wl.hist)).count()
    m["operators.dedup.history_probe_s"] = tr.duration("operators.dedup.history_probe")
    with tr.span("rules.decisions_pin"):
        dec = QF.annotate(probe.drop("text_md5"), rules=rules).select(
            *dec_cols
        ).localCheckpoint()
    out = fresh_dir(wl.work / "trace_out")
    with tr.span("pipeline.checkpoint.write"):
        CheckpointedWriter(str(out), n_buckets=16).run(dec, group_size=4)
    m["pipeline.checkpoint.write_s"] = tr.duration("pipeline.checkpoint.write")
    m["pipeline.checkpoint.files"], m["pipeline.checkpoint.bytes"] = _tree_size(
        out / "data"
    )
    with tr.span("operators.dedup.history_commit"):
        commit_history(probe, str(wl.hist))
    m["operators.dedup.history_commit_s"] = tr.duration(
        "operators.dedup.history_commit"
    )
    _udf_layers(tr, spark, wl, rules, m)
    return _composed(tr, wl, m)


def trace_stream(tr: Tracer, spark, wl, seed: int, m: dict) -> bool:
    from mysql_data_quality_spark.pipeline import quality_filter as QF
    from mysql_data_quality_spark.streaming.incremental import (
        PAGES_SCHEMA,
        raise_progress_retention,
        start_filter_stream,
    )

    progress = []
    read_s = []
    rows = 0
    for _ in range(3):
        with tr.span("bench.land"):
            wl.prepare()
        batch = spark.read.schema(PAGES_SCHEMA).parquet(*map(str, wl.landed))
        with tr.span("sources.read") as s:
            rows += _noop(batch, count=True)
        read_s.append(s["end"] - s["start"])
        with tr.span("streaming"):
            raise_progress_retention(spark)
            q = start_filter_stream(
                spark, str(wl.inbox), str(wl.out), str(wl.ck),
                dedup=True, files_per_trigger=1,
            )
            q.awaitTermination()
            progress += [p for p in q.recentProgress if p["numInputRows"] > 0]
        with tr.span("bench.check"):
            if not wl.check(0):
                return False
    m["sources.read_s"] = statistics.median(read_s)
    m["sources.rows"] = rows
    m["rules.plan_build_s"] = _plan_build(tr, lambda: QF.decisions(batch))
    with tr.span("rules.decide"):
        _noop(QF.decisions(batch))
    m["rules.decide_s"] = tr.duration("rules.decide")

    def med(key: str) -> float:
        return statistics.median(
            p["durationMs"].get(key, 0) / 1000.0 for p in progress
        )

    m["streaming.trigger_s"] = med("triggerExecution")
    m["streaming.add_batch_s"] = med("addBatch")
    m["streaming.query_planning_s"] = med("queryPlanning")
    m["streaming.wal_commit_s"] = med("walCommit")
    m["streaming.latest_offset_s"] = med("latestOffset")
    m["streaming.batches"] = len(progress)
    state = progress[-1]["stateOperators"][0] if progress else {}
    m["streaming.state_rows"] = state.get("numRowsTotal", 0)
    m["streaming.state_bytes"] = state.get("memoryUsedBytes", 0)
    # the near-dedup operators ride on this trace, the shorter of the two
    _near_layers(tr, spark, wl, seed, m)
    return _composed(tr, wl, m)


TRACES = {"crawl_filter": trace_crawl, "stream_ingest": trace_stream}


def traced_run(wl, spark, args, out_root: Path) -> dict:
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tr = Tracer(run_id, spark.sparkContext)
    m: dict = {}
    t0 = time.time()
    ok = TRACES[args.workload](tr, spark, wl, args.seed, m)
    t1 = time.time()
    m["trace.coverage"] = tr.coverage(t0, t1)
    # tracing overhead: the composed command here against the median of
    # the last untraced run of this workload and seed, when there is one
    last = out_root / "results" / f"{args.workload}-{args.seed}.json"
    if last.is_file():
        p50 = json.loads(last.read_text())["increment_s.p50"]
        m["trace.overhead"] = m["cli.run_s"] / p50 - 1.0
    return {
        "tracer": tr,
        "ok": ok,
        "metrics": m,
        "dir": out_root / "trace" / f"{args.workload}-{args.seed}",
    }


def finish_trace(res: dict, event_log: Path) -> dict:
    """After the session stopped: roll the event log up per span, write
    the trace files and shape the per-layer metrics."""
    tr, m, out = res["tracer"], res["metrics"], res["dir"]
    counters = rollup(read_event_log(event_log), tr.spans)
    for layer in SPARK_LAYERS:
        ids = [s["id"] for s in tr.spans if s["name"] == layer]
        for c in COUNTERS:
            m[f"{layer}.{c}"] = (
                statistics.fmean(counters[i][c] for i in ids) if ids else 0.0
            )
    shutil.rmtree(out, ignore_errors=True)
    tr.write(out / "spans.jsonl")
    self_s = tr.self_times()
    by_group = {
        s["group"]: {"span": s["name"], "self_s": self_s[s["id"]], **counters[s["id"]]}
        for s in tr.spans
    }
    covered = m["trace.coverage"] >= 0.9
    (out / "layers.json").write_text(json.dumps(
        {"metrics": m, "coverage_ok": covered, "job_groups": by_group},
        indent=1, sort_keys=True,
    ))
    metrics = {name: (float(m.get(name, 0)), unit) for name, unit in PER_LAYER}
    correct = res["ok"] and covered
    return {"correct": correct, "attempted": 1, "failed": int(not correct),
            "metrics": metrics}
