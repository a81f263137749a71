"""Seeded generator for the benchmark's page corpora.

Every corpus is a pure function of ``(CorpusSpec, seed)``: the same seed
gives byte-identical parquet.  The program under test only ever sees the
written files.  The generator imports the rule lexicons it must mix in
(``langid.LANG_MARKERS``, ``perplexity.VOCAB``, the stop words and the
blocklist terms) so every rule family both keeps and drops a visible
share of documents.

Controls (see ``CorpusSpec``):

- a Zipf vocabulary of thousands of pseudo-words, mixed per document with
  the perplexity scorer's vocabulary at a drawn in-vocabulary share;
- line and paragraph structure, with shared navigation/footer lines;
- heavy-tailed lengths (log-normal paragraph counts) plus a few documents
  of at least 100 KB;
- the shares of exact duplicates, PII and blocklisted terms;
- near-duplicate clusters with bounded Zipf sizes, and boilerplate
  paragraphs shared by hundreds of pages;
- with ``with_overlap``, the share of a crawl that re-crawls an earlier
  one.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mysql_data_quality_spark.functions.text import STOPWORDS
from mysql_data_quality_spark.rules.langid import LANG_MARKERS
from mysql_data_quality_spark.rules.perplexity import VOCAB
from mysql_data_quality_spark.rules.pii import BLOCKLIST_TERMS

BASE_TS = 1_700_000_000

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# English letter frequencies (per mille), for pseudo-word spelling
_LETTERS = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
_LETTER_P = np.array(
    [127, 91, 82, 75, 70, 67, 63, 61, 60, 43, 40, 28, 28, 24, 24, 22, 20,
     20, 19, 15, 10, 8, 2, 2, 1, 1], dtype=float
)
_LETTER_P /= _LETTER_P.sum()
_NAV = (
    "Home | About | Contact | Blog | Careers",
    "Skip to main content",
    "Menu Search Login Register",
    "Share this page on social media",
    "Accept all cookies to continue",
    "Previous post Next post",
)
_FOOTER = (
    "Copyright 2024 example media group. All rights reserved.",
    "Terms of use | Privacy policy | Sitemap",
    "Subscribe to our newsletter for weekly updates",
    "Powered by a content management system",
)
_JUNK = " @@ ## $$ %% ^^ && ** !! ~~ (( )) [[ ]] {{ }} << >> || \\\\ ++ == "
_LANGS = tuple(LANG_MARKERS)
_STOP = frozenset(STOPWORDS)


@dataclass(frozen=True)
class CorpusSpec:
    """What one generated crawl looks like.  Shares are of documents."""

    n_docs: int
    vocab_size: int = 4000
    zipf_s: float = 1.07
    n_domains: int = 400
    good_share: float = 0.62  # in-vocabulary share high enough to pass
    non_en_share: float = 0.12
    mislabel_share: float = 0.06
    short_share: float = 0.05
    no_stop_share: float = 0.03
    repetitive_share: float = 0.03
    junk_share: float = 0.03
    digit_share: float = 0.03
    blob_share: float = 0.02
    no_marker_share: float = 0.02
    chrome_share: float = 0.35  # pages carrying a shared nav/footer line
    pii_share: float = 0.12
    toxic_share: float = 0.02
    exact_dup_share: float = 0.05
    n_long_docs: int = 3  # documents of at least ``long_doc_bytes``
    long_doc_bytes: int = 100_000
    mean_paras: float = 4.0
    #: near-duplicate clusters: share of documents that are edited copies
    #: of a cluster root; cluster sizes are Zipf, capped at ``cluster_max``
    cluster_share: float = 0.0
    cluster_max: int = 30
    edit_rate: float = 0.04
    #: boilerplate paragraphs each shared by ``boilerplate_pages`` pages
    boilerplate_paras: int = 0
    boilerplate_pages: int = 200


def vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct pseudo-words that collide with no lexicon word."""
    reserved = set(VOCAB) | _STOP | set(BLOCKLIST_TERMS)
    for markers in LANG_MARKERS.values():
        reserved |= set(markers)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(np.clip(rng.poisson(5.5), 2, 14))
        w = "".join(rng.choice(_LETTERS, size=k, p=_LETTER_P))
        if w not in seen and w not in reserved:
            seen.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    c = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    c /= c[-1]
    c[-1] = 1.0  # guard the last bucket against rounding
    return c


class _Words:
    """Word sampler: scorer vocabulary vs. the long-tail vocabulary."""

    def __init__(self, rng: np.random.Generator, spec: CorpusSpec):
        self.rng = rng
        self.tail = vocabulary(rng, spec.vocab_size)
        self.tail_cdf = _zipf_cdf(spec.vocab_size, spec.zipf_s)
        # function words first: they carry the stop-word and langid signal
        fn = [w for w in VOCAB if w in _STOP or len(w) <= 3]
        dom = [w for w in VOCAB if w not in fn]
        self.fn = np.array(fn, dtype=object)
        self.dom = np.array(dom, dtype=object)
        self.fn_cdf = _zipf_cdf(len(fn), 0.8)
        self.dom_cdf = _zipf_cdf(len(dom), 0.9)

    def pick(self, words: np.ndarray, cdf: np.ndarray, n: int) -> np.ndarray:
        return words[np.searchsorted(cdf, self.rng.random(n), side="right")]

    def draw(self, n: int, q: float, lang: str = "en", stop: bool = True):
        """``n`` words; a share ``q`` from the scorer vocabulary (half of
        those function words), the rest from the Zipf tail.  Non-English
        documents take their function words from that language's
        markers; ``stop=False`` leaves out every stop word."""
        rng = self.rng
        src = rng.random(n)
        tail = self.pick(self.tail, self.tail_cdf, n)
        dom = self.pick(self.dom, self.dom_cdf, n)
        if lang == "en":
            fn = self.pick(self.fn, self.fn_cdf, n)
        else:
            m = np.array(LANG_MARKERS[lang], dtype=object)
            fn = m[rng.integers(0, len(m), size=n)]
        if not stop:
            fn = dom
        return np.where(src < q / 2, fn, np.where(src < q, dom, tail))


def _cuts(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """Split points of ``n`` items into runs of ``lo``..``hi - 1``."""
    runs = rng.integers(lo, hi, size=n // lo + 1)
    ends = np.cumsum(runs)
    return np.concatenate(([0], ends[ends < n], [n]))


def _lines(words: np.ndarray, rng: np.random.Generator) -> list[str]:
    cuts = _cuts(rng, len(words), 6, 19)
    out = []
    for a, b in zip(cuts[:-1], cuts[1:]):
        line = " ".join(words[a:b])
        out.append(line[:1].upper() + line[1:] + ".")
    return out


def _body(
    rng: np.random.Generator, w: _Words, q: float, lang: str,
    n_words: int, stop: bool = True,
) -> str:
    lines = _lines(w.draw(n_words, q, lang, stop), rng)
    cuts = _cuts(rng, len(lines), 1, 5)
    return "\n\n".join(
        "\n".join(lines[a:b]) for a, b in zip(cuts[:-1], cuts[1:])
    )


def _doc(rng: np.random.Generator, w: _Words, spec: CorpusSpec) -> tuple:
    """(text, generation language) for one fresh document."""
    lang = "en"
    if rng.random() < spec.non_en_share:
        lang = _LANGS[int(rng.integers(1, len(_LANGS)))]
    good = rng.random() < spec.good_share
    # the perplexity rule keeps a page at >= ~81% scorer-vocabulary words
    q = rng.uniform(0.84, 0.97) if good else rng.uniform(0.35, 0.8)
    n_paras = max(1, int(rng.lognormal(np.log(spec.mean_paras), 0.7)))
    n_words = int(n_paras * rng.integers(20, 60))
    kind = rng.random()
    edges = np.cumsum(
        [spec.short_share, spec.no_stop_share, spec.repetitive_share,
         spec.junk_share, spec.digit_share, spec.blob_share,
         spec.no_marker_share]
    )
    if kind < edges[0]:  # too short
        text = " ".join(w.draw(int(rng.integers(3, 11)), q, lang))
    elif kind < edges[1]:  # keyword list without stop words
        text = _body(rng, w, q, lang, n_words, stop=False)
    elif kind < edges[2]:  # one line repeated
        line = " ".join(w.draw(int(rng.integers(6, 12)), q, lang))
        text = "\n".join([line] * int(rng.integers(8, 40)))
    elif kind < edges[3]:  # symbol junk
        text = _body(rng, w, q, lang, n_words) + "\n" + _JUNK * int(
            rng.integers(3, 10)
        )
    elif kind < edges[4]:  # digit tables
        nums = rng.integers(0, 100000, size=int(rng.integers(40, 200)))
        text = _body(rng, w, q, lang, n_words // 3) + "\n" + " ".join(
            map(str, nums)
        )
    elif kind < edges[5]:  # long-token blob
        blob = [
            "".join(w.tail[rng.integers(0, 200, size=5)])
            for _ in range(int(rng.integers(20, 80)))
        ]
        text = " ".join(blob)
    elif kind < edges[6]:  # no language marker at all
        text = _body(rng, w, 0.0, lang, n_words)
    else:
        text = _body(rng, w, q, lang, n_words)
    if rng.random() < spec.chrome_share:
        text = _NAV[int(rng.integers(0, len(_NAV)))] + "\n\n" + text
    if rng.random() < spec.chrome_share:
        text = text + "\n\n" + _FOOTER[int(rng.integers(0, len(_FOOTER)))]
    return text, lang


def _decorate(
    rng: np.random.Generator, w: _Words, text: str, spec: CorpusSpec, i: int
) -> str:
    """PII and blocklisted terms, inlined at the end of the page."""
    if rng.random() < spec.pii_share:
        a, b = w.pick(w.tail, w.tail_cdf, 2)
        kind = int(rng.integers(0, 3))
        if kind == 0:
            pii_text = f"{a}{i}@{b}.org"
        elif kind == 1:
            pii_text = f"(11) 9{i % 10000:04d}-{int(rng.integers(1000, 9999))}"
        else:
            pii_text = f"10.{i % 256}.{(i * 7) % 256}.{i % 97}"
        text += f" {a} {pii_text} {b}."
    if rng.random() < spec.toxic_share:
        term = BLOCKLIST_TERMS[int(rng.integers(0, len(BLOCKLIST_TERMS)))]
        text += f" {term}."
    return text


def _edit(rng: np.random.Generator, w: _Words, text: str, rate: float) -> str:
    """A near-duplicate: replace ``rate`` of the words, keep the layout."""
    parts = text.split(" ")
    n = len(parts)
    k = max(1, int(n * rate))
    idx = rng.integers(0, n, size=k)
    fresh = w.pick(w.tail, w.tail_cdf, k)
    for j, word in zip(idx, fresh):
        parts[j] = word
    return " ".join(parts)


def _cluster_sizes(rng: np.random.Generator, n: int, cap: int) -> list[int]:
    """Zipf cluster sizes (>= 2, <= cap) covering about ``n`` documents."""
    sizes, total = [], 0
    while total < n:
        s = int(min(cap, 1 + rng.zipf(1.8)))
        s = max(2, min(s, n - total + 1))
        sizes.append(s)
        total += s
    return sizes


def generate(
    spec: CorpusSpec, seed: int, url_tag: str = "c0", id_offset: int = 0
) -> dict:
    """Column dict (url, warc_ts, html, text, lang) for one crawl."""
    rng = np.random.default_rng(seed)
    w = _Words(rng, spec)
    domains = [f"site{d}.example" for d in range(spec.n_domains)]
    dom_cdf = _zipf_cdf(spec.n_domains, 1.0)
    n = spec.n_docs
    texts: list[str] = []
    langs: list[str] = []
    n_clustered = int(n * spec.cluster_share)
    for size in _cluster_sizes(rng, n_clustered, spec.cluster_max) if n_clustered else []:
        root, lang = _doc(rng, w, spec)
        texts.append(root)
        langs.append(lang)
        for _ in range(size - 1):
            texts.append(_edit(rng, w, root, spec.edit_rate))
            langs.append(lang)
    while len(texts) < n:
        t, lang = _doc(rng, w, spec)
        texts.append(t)
        langs.append(lang)
    texts, langs = texts[:n], langs[:n]
    # boilerplate paragraphs, each pasted into a run of pages
    for b in range(spec.boilerplate_paras):
        para = " ".join(w.draw(int(rng.integers(60, 120)), 0.9)) + "."
        for j in rng.choice(n, size=min(n, spec.boilerplate_pages), replace=False):
            texts[j] = texts[j] + "\n\n" + para
    # long documents: concatenated good bodies up to the byte floor
    for j in rng.choice(n, size=min(n, spec.n_long_docs), replace=False):
        body = []
        size = 0
        while size < spec.long_doc_bytes:
            part = _body(rng, w, 0.9, "en", 400)
            body.append(part)
            size += len(part) + 2
        texts[j] = "\n\n".join(body)
        langs[j] = "en"
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    # exact duplicates: later documents copy an earlier document's text
    n_dup = int(n * spec.exact_dup_share)
    for j in rng.choice(np.arange(n // 2, n), size=n_dup, replace=False):
        src = int(rng.integers(0, n // 2))
        texts[j] = texts[src] if rng.random() < 0.5 else texts[src].upper()
        langs[j] = langs[src]
    texts = [
        _decorate(rng, w, t, spec, id_offset + i) for i, t in enumerate(texts)
    ]
    claimed = [
        _LANGS[int(rng.integers(0, len(_LANGS)))]
        if rng.random() < spec.mislabel_share else g
        for g in langs
    ]
    doms = np.searchsorted(dom_cdf, rng.random(n), side="right")
    urls = [
        f"https://{domains[d]}/{url_tag}/p{id_offset + i}"
        for i, d in enumerate(doms)
    ]
    ts = (BASE_TS + rng.integers(0, 31_536_000, size=n)) * 1_000_000
    html = [
        f"<html><head><title>page {i}</title></head><body></body></html>".encode()
        for i in range(n)
    ]
    return {"url": urls, "warc_ts": ts, "html": html, "text": texts, "lang": claimed}


def take(cols: dict, idx) -> dict:
    """Row subset of a column dict (order of ``idx``)."""
    return {k: [v[i] for i in idx] for k, v in cols.items()}


def concat(*parts: dict) -> dict:
    return {k: [x for p in parts for x in p[k]] for k in parts[0]}


def to_table(cols: dict) -> pa.Table:
    return pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(
                np.asarray(cols["warc_ts"], dtype="int64"), pa.int64()
            ).cast(pa.timestamp("us", tz="UTC")),
            "html": pa.array(cols["html"], pa.binary()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
        },
        schema=SCHEMA,
    )


def write(cols: dict, out_dir: Path, n_files: int = 8, prefix: str = "part") -> Path:
    """Write a column dict as ``n_files`` parquet files under ``out_dir``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    table = to_table(cols)
    n = table.num_rows
    step = max(1, -(-n // n_files))
    for k, start in enumerate(range(0, n, step)):
        pq.write_table(
            table.slice(start, step), out_dir / f"{prefix}-{k:05d}.parquet"
        )
    return out_dir


def with_overlap(
    spec: CorpusSpec, seed: int, earlier: dict, share: float, url_tag: str,
    id_offset: int,
) -> dict:
    """A crawl of ``spec.n_docs`` pages whose first ``share`` re-crawls
    ``earlier``: same url and text, a later timestamp."""
    rng = np.random.default_rng(seed + 7919)
    n_old = int(spec.n_docs * share)
    old = take(earlier, rng.choice(len(earlier["url"]), size=n_old, replace=False))
    old["warc_ts"] = [t + 86_400_000_000 for t in old["warc_ts"]]
    fresh = generate(
        replace(spec, n_docs=spec.n_docs - n_old), seed, url_tag, id_offset
    )
    return concat(old, fresh)
