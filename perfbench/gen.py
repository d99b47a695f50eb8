"""Seeded, single-process page generator owned by the benchmark.

Unlike the package's ``datagen.pages`` (two-tag html, a small pool of
repeated texts), every page here is a mostly unique English document
of controlled length wrapped in real html: a head with an optional
robots meta tag, nav and footer boilerplate lines, and block-level
paragraphs. The stored ``text`` is what an upstream extractor would
emit, boilerplate lines included, so the repair stages have work.

Knobs (``PageSpec``): document length, boilerplate lines, the shares of
noindex, mojibake, missing-text, low-quality and PII pages, the
hot-domain share, the blocklisted-domain share, and planted
near-duplicate clusters whose sizes follow a capped heavy-tailed (Zipf)
law. Ground truth (each page's cluster id, noindex and blocked flags)
is returned beside the pages, never inside them: the program only sees
the generated inputs.

Everything is a pure function of (spec, seed).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the pages' parquet schema; Spark reads it as
# "url string, warc_ts timestamp, html binary, text string, lang string"
# (timestamps stored as UTC instants, the session time zone)
_PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

_NOUNS = """
river garden market station village tower museum valley bridge harbour library
council teacher farmer engineer doctor artist student captain mayor baker painter
report letter window kitchen meadow forest mountain island castle church school
hospital factory office street square railway canal orchard vineyard lighthouse
festival concert lecture journey winter summer autumn evening morning weather
harvest budget survey election archive manuscript painting sculpture theatre
company committee newspaper journal chapter story history memory question answer
problem solution method result table chair lamp door roof wall floor stair
garden fountain statue monument cathedral chapel cottage barn stable field
hill lake pond stream shore beach cliff cave desert plain prairie glacier
engine machine device tool hammer ladder rope basket bottle barrel wagon cart
carriage bicycle tram ferry steamer sailor soldier officer merchant clerk
lawyer judge witness neighbour cousin uncle widow orphan pupil scholar poet
composer singer dancer actor writer editor printer publisher reader visitor
traveller pilgrim stranger guest host owner tenant builder mason carpenter
gardener shepherd miller weaver tailor cobbler smith potter butcher grocer
""".split()
_ADJS = """
old new quiet busy narrow wide bright dark early late small large ancient modern
famous local northern southern eastern western green golden silver wooden stone
heavy light careful patient curious honest gentle proud tired happy sudden
strange familiar distant nearby rural urban coastal central annual weekly public
private simple complex useful rare common pleasant serious generous humble
""".split()
_VERBS = """
discussed published reviewed planned described celebrated studied explained
organized completed repaired visited photographed measured questioned welcomed
restored opened criticized supported announced documented recorded painted
built carried moved found lost watched noticed remembered collected delivered
examined improved prepared protected replaced returned shared signed tested
""".split()
_PREPS = """
near behind beside across along inside outside under above beyond toward
""".split()
# non-ASCII sentences: the mojibake pages need characters whose
# one-round cp1252 corruption the repair stage can undo
_ACCENTED = (
    "The café near the station served crème brûlée to the visitors.",
    "Her résumé mentioned a naïve but charming project from her youth.",
    "“It was a fine day,” said the guide — and everyone agreed.",
    "The señora’s garden was admired by the whole street.",
    "A piñata and a café au lait were part of the fête.",
)
_NAV = (
    "Home | News | Sports | Weather | Contact us",
    "Menu Search Login Register",
    "Skip to main content",
)
_FOOTER = (
    "Copyright 2024 Example Media. All rights reserved.",
    "Privacy policy | Terms of use | Cookie settings",
    "Subscribe to our newsletter",
    "Follow us on social media",
    "Back to top",
)
_SECTIONS = ("news", "local", "culture", "blog", "archive", "events", "history")
_HOT_DOMAINS = ("big-portal.example.com", "mega-news.example.org", "hub.example.net")
_N_SITES = 2000
_N_BLOCKED = 40
_LOWQ = (
    lambda i: [f"Page {i} not found."],
    lambda i: ["Click here to win a prize now! " * 12],
    lambda i: ["Loading..."],
)
_MUTATIONS = ("river", "garden", "market", "station", "village", "tower", "museum", "valley")


@dataclass(frozen=True)
class PageSpec:
    """Shares marked "datagen" are those of the package's own
    ``datagen.pages`` fixture; the others are assumptions (see
    perfbench/LAYERS.md for how much the results depend on them)."""

    n_docs: int
    # sentences per paragraph and paragraphs per doc (doc length)
    sentences: tuple[int, int] = (3, 6)
    paragraphs: tuple[int, int] = (3, 6)
    # nav + footer boilerplate lines per page (in html and in text)
    boilerplate_lines: int = 4
    noindex_share: float = 0.0
    mojibake_share: float = 0.0
    missing_text_share: float = 0.0
    # datagen: 50% of rows on 3 hot domains
    hot_domain_share: float = 0.5
    # pages on blocklisted domains (or their subdomains)
    blocked_share: float = 0.0
    # share of docs that are copies in a planted near-dup cluster;
    # cluster sizes ~ Zipf(cluster_alpha) capped at cluster_max
    cluster_share: float = 0.0
    cluster_max: int = 12
    cluster_alpha: float = 2.0
    # low-quality pages the verdict should drop (not-found and loading
    # stubs, identical spam pages); datagen: "short" 6% + "repetitive" 6%
    lowq_share: float = 0.12
    # pages carrying an email / phone / ip address for the scrubber;
    # datagen: "pii" 6%
    pii_share: float = 0.06


@dataclass
class Pages:
    pages: pd.DataFrame  # url, warc_ts, html, text, lang
    # ground truth by url: cluster (planted near-dup cluster id, -1 for
    # none), noindex, blocked
    truth: pd.DataFrame
    blocklist: list[str]


def _sentence(rng: np.random.Generator) -> str:
    # one draw per sentence: per-word draws dominate generation time
    r = iter(rng.integers(1 << 30, size=14).tolist())
    n, a, v, p = _NOUNS, _ADJS, _VERBS, _PREPS
    pick = lambda xs: xs[next(r) % len(xs)]  # noqa: E731
    s = (
        f"The {pick(a)} {pick(n)} {pick(v)} the {pick(n)} of the {pick(a)} "
        f"{pick(n)} {pick(p)} the {pick(n)}"
    )
    if next(r) % 2:
        s += f" and the {pick(n)} {pick(v)} a {pick(a)} {pick(n)}"
    return s + f" in {1900 + next(r) % 125}."


def _paragraphs(rng: np.random.Generator, spec: PageSpec, accented: bool) -> list[str]:
    n_par = int(rng.integers(spec.paragraphs[0], spec.paragraphs[1] + 1))
    paras = []
    for _ in range(n_par):
        n_sent = int(rng.integers(spec.sentences[0], spec.sentences[1] + 1))
        paras.append(" ".join(_sentence(rng) for _ in range(n_sent)))
    if accented:
        paras[int(rng.integers(n_par))] += " " + _ACCENTED[rng.integers(len(_ACCENTED))]
    return paras


def _mutate(rng: np.random.Generator, paras: list[str]) -> list[str]:
    """A near copy: about one word in a hundred replaced."""
    out = []
    for p in paras:
        words = p.split(" ")
        for j in range(len(words)):
            if rng.random() < 0.01:
                words[j] = _MUTATIONS[rng.integers(len(_MUTATIONS))]
        out.append(" ".join(words))
    return out


def _sloppy_cp1252(s: str) -> str:
    """One round of mojibake: utf-8 bytes read back as cp1252 (bytes
    cp1252 leaves undefined map to the latin-1 control characters)."""
    out = []
    for b in s.encode("utf-8"):
        try:
            out.append(bytes([b]).decode("cp1252"))
        except UnicodeDecodeError:
            out.append(chr(b))
    return "".join(out)


def _html(title: str, nav: list[str], paras: list[str], footer: list[str], noindex: bool) -> bytes:
    meta = '<meta name="robots" content="noindex, nofollow">' if noindex else ""
    body = (
        "".join(f"<nav>{n}</nav>\n" for n in nav)
        + "<main>\n"
        + "".join(f"<p>{p}</p>\n" for p in paras)
        + "</main>\n"
        + "".join(f"<footer>{f}</footer>\n" for f in footer)
    )
    return (
        f"<html><head><title>{title}</title>{meta}</head>\n<body>\n{body}</body></html>"
    ).encode("utf-8")


def _cluster_sizes(spec: PageSpec) -> list[int]:
    """Planted cluster sizes. The same for every seed, so the pair count
    and the connected-components rounds do not vary with it; texts and
    placement do."""
    rng = np.random.default_rng(0)
    budget = int(spec.n_docs * spec.cluster_share)
    sizes = []
    while budget >= 2:
        k = int(min(spec.cluster_max, 1 + rng.zipf(spec.cluster_alpha), budget))
        sizes.append(k)
        budget -= k
    return sizes


def make_pages(spec: PageSpec, seed: int) -> Pages:
    rng = np.random.default_rng(seed)
    blocklist = [f"spam-{j:02d}.example.biz" for j in range(_N_BLOCKED)]

    # planted near-duplicate clusters: one base text, mutated copies
    docs: list[tuple[list[str], int]] = []
    sizes = _cluster_sizes(spec)
    n_planted = len(sizes)
    for cid, k in enumerate(sizes):
        base = _paragraphs(rng, spec, accented=False)
        docs.append((base, cid))
        docs.extend((_mutate(rng, base), cid) for _ in range(k - 1))
    while len(docs) < spec.n_docs:
        docs.append((None, -1))
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]

    base_ts = dt.datetime(2019, 1, 1)
    span_s = int((dt.datetime(2025, 12, 1) - base_ts).total_seconds())
    urls, tss, htmls, texts, langs, cids, noindex, blocked = ([] for _ in range(8))
    for i, (paras, cid) in enumerate(docs):
        r = rng.random(10)
        mojibake = r[0] < spec.mojibake_share
        if paras is None and r[8] < spec.lowq_share:
            paras = _LOWQ[i % len(_LOWQ)](i)
            if i % len(_LOWQ) == 1:  # identical spam pages: one exact cluster
                cid = n_planted
        elif paras is None:
            paras = _paragraphs(rng, spec, accented=mojibake or r[1] < 0.2)
            if r[9] < spec.pii_share:
                paras[-1] += (
                    f" Write to editor{i}@mail.example.com or call 415-555-{1000 + i % 9000}"
                    f" from 10.0.{i % 250}.{i % 200}."
                )
        elif mojibake:
            paras = paras[:-1] + [paras[-1] + " " + _ACCENTED[i % len(_ACCENTED)]]

        if r[2] < spec.blocked_share:
            host = blocklist[int(rng.integers(_N_BLOCKED))]
            if rng.random() < 0.5:
                host = f"ads{int(rng.integers(100))}." + host
        elif r[2] < spec.blocked_share + spec.hot_domain_share:
            host = _HOT_DOMAINS[int(rng.integers(len(_HOT_DOMAINS)))]
        else:
            host = f"site-{int(rng.integers(_N_SITES)):04d}.example.com"
        urls.append(f"https://{host}/{_SECTIONS[i % len(_SECTIONS)]}/page-{seed}-{i}")

        nb = spec.boilerplate_lines
        nav = [_NAV[(i + j) % len(_NAV)] for j in range(nb // 2)]
        footer = [_FOOTER[(i + j) % len(_FOOTER)] for j in range(nb - nb // 2)]
        title = paras[0].split(".")[0][:60]
        noindex.append(bool(r[3] < spec.noindex_share))
        blocked.append(bool(r[2] < spec.blocked_share))
        htmls.append(_html(title, nav, paras, footer, noindex[-1]))

        if r[4] < spec.missing_text_share:
            texts.append(None)
        else:
            text = "\n".join(nav + paras + footer)
            texts.append(_sloppy_cp1252(text) if mojibake else text)

        if r[5] < 0.02:
            tss.append(None)
        elif r[5] < 0.03:  # older than the default 10-year lookback
            tss.append(dt.datetime(2012, 5, 1) + dt.timedelta(seconds=int(r[6] * 1e7)))
        else:
            tss.append(base_ts + dt.timedelta(seconds=int(r[6] * span_s)))
        langs.append(None if r[7] < 0.05 else "en")
        cids.append(cid)

    pages = pd.DataFrame(
        {
            "url": pd.Series(urls, dtype="object"),
            "warc_ts": pd.Series(tss, dtype="datetime64[us]"),
            "html": pd.Series(htmls, dtype="object"),
            "text": pd.Series(texts, dtype="object"),
            "lang": pd.Series(langs, dtype="object"),
        }
    )
    truth = pd.DataFrame(
        {"cluster": cids, "noindex": noindex, "blocked": blocked},
        index=pd.Index(urls, name="url"),
    )
    return Pages(pages, truth, blocklist)


def write_pages(pages: pd.DataFrame, path: str, files: int) -> None:
    """Write the pages as ``files`` parquet files of nearly equal row
    counts, without Spark: staging costs no session time."""
    os.makedirs(path)
    table = pa.Table.from_pandas(pages, schema=_PAGES_ARROW, preserve_index=False)
    step = -(-len(pages) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
