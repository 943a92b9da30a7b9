"""Seeded crawl generator for the benchmark workloads.

One process, numpy + pyarrow only: no Spark and nothing from
``doppel_spark``, so a change to the program (its own synthetic corpus
included) cannot move the inputs. The same ``(workload, seed)`` always
yields byte-identical files.

Every workload writes ``pages.parquet`` (url, warc_ts, text, lang — the
pages-table schema the jobs read) and ``manifest.json``, the ground
truth the checkers use. ``neardup_crawl`` adds ``planted_pairs.parquet``
(every within-group doc pair with its exact 5-word-shingle Jaccard);
``curate_funnel`` adds ``eval.parquet`` (the eval set the decontamination
stages compare against).

Text model: lowercase words from a fixed synthetic vocabulary (Zipf
ranks) mixed with English stopwords, sentences ending in ``.``, lines of
one to three sentences. Tokens are separated by single ASCII spaces and
lines by ``\\n``, so every tokenizer the method may use (ASCII-whitespace
split, ``\\S+``, lowercased or not) sees the same tokens.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from itertools import combinations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated bytes change, so cached inputs are rebuilt
GEN_VERSION = "g3"

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "with",
             "for", "on", "as", "it", "was", "by", "at", "from", "this",
             "are", "be", "or", "an", "which", "but", "not", "have"]
STOP_P = 0.3
SHINGLE_K = 5
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

# ---- workload sizes (the README quotes these) ---------------------------
NEAR = dict(n_docs=5000, hot_docs=500, template_head=150, template_tail=100,
            clusters=480, exact_groups=220, hosts=300)
EXACT = dict(n_docs=10000, dup_share=0.3, soft404_groups=6, trios=12,
             median_tokens=250, sigma=1.1, hosts=600)
CURATE = dict(n_docs=2400, hosts=120, boilerplate_lines=8, boilerplate_p=0.12,
              shared_lines=120, exact_dup_share=0.08, url_variant_share=0.02,
              pii_share=0.10, lowq_share=0.08, eval_items=40, exact_leaks=15,
              paraphrase_leaks=15, eval_tokens=200)


def vocabulary(n: int = 8000) -> list[str]:
    """Fixed pseudo-word vocabulary (seed-independent)."""
    rng = np.random.default_rng(20261018)
    cons, vows = list("bcdfghjklmnprstvz"), list("aeiou")
    stop = set(STOPWORDS)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        syl = int(rng.integers(2, 5))
        w = "".join(cons[int(rng.integers(len(cons)))]
                    + vows[int(rng.integers(len(vows)))] for _ in range(syl))
        if w not in seen and w not in stop:
            seen.add(w)
            out.append(w)
    return out


VOCAB = np.array(vocabulary(), dtype=object)
_ZIPF_CDF = np.cumsum(1.0 / (np.arange(len(VOCAB)) + 10.0) ** 1.05)
_ZIPF_CDF /= _ZIPF_CDF[-1]
_STOP = np.array(STOPWORDS, dtype=object)


class Writer:
    """Seeded text source; every random draw goes through ``self.rng``."""

    def __init__(self, seed: int, salt: int) -> None:
        self.rng = np.random.default_rng([seed, salt])

    def words(self, n: int, stop_p: float = STOP_P) -> list[str]:
        r = self.rng
        content = VOCAB[np.searchsorted(_ZIPF_CDF, r.random(n))]
        stops = _STOP[r.integers(0, len(_STOP), n)]
        return list(np.where(r.random(n) < stop_p, stops, content))

    def sentence_tokens(self, n: int, stop_p: float = STOP_P) -> list[str]:
        """``n`` tokens with a period closing every 6–17 tokens."""
        toks = self.words(n, stop_p)
        ends = np.cumsum(self.rng.integers(6, 18, n // 6 + 1)) - 1
        for i in ends[ends < n]:
            toks[i] = toks[i] + "."
        if n:
            toks[-1] = toks[-1].rstrip(".") + "."
        return toks

    def lines(self, n_tokens: int, min_line: int = 8,
              max_line: int = 40) -> list[list[str]]:
        """A document as lines of tokens."""
        toks = self.sentence_tokens(n_tokens)
        cuts = np.cumsum(self.rng.integers(min_line, max_line + 1,
                                           n_tokens // min_line + 1))
        cuts = [0] + [int(c) for c in cuts[cuts < n_tokens]] + [n_tokens]
        return [toks[a:b] for a, b in zip(cuts, cuts[1:])]

    def doc_len(self, median: float, sigma: float, lo: int, hi: int) -> int:
        return int(np.clip(self.rng.lognormal(np.log(median), sigma), lo, hi))

    def hosts(self, n: int) -> list[str]:
        tlds = ["com", "org", "net", "info"]
        out: set[str] = set()
        while len(out) < n:
            a, b = VOCAB[self.rng.integers(0, 2000, 2)]
            out.add(f"{a}{b}.{tlds[int(self.rng.integers(len(tlds)))]}")
        return sorted(out)

    def zipf_hosts(self, hosts: list[str], n: int, s: float) -> list[str]:
        w = 1.0 / np.arange(1, len(hosts) + 1) ** s
        idx = self.rng.choice(len(hosts), size=n, p=w / w.sum())
        perm = self.rng.permutation(len(hosts))  # hot host is seed-chosen
        return [hosts[perm[i]] for i in idx]


def render(lines: list[list[str]]) -> str:
    return "\n".join(" ".join(ln) for ln in lines)


def flat(lines: list[list[str]]) -> list[str]:
    return [t for ln in lines for t in ln]


def shingles(tokens: list[str], k: int = SHINGLE_K) -> set[int]:
    """k-word shingle set (as hashes of the shingles, equal within one
    process); fewer than k tokens → token set; none → {''}."""
    if len(tokens) >= k:
        return {hash(tuple(tokens[i:i + k]))
                for i in range(len(tokens) - k + 1)}
    return {hash(t) for t in tokens} if tokens else {hash("")}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def _edit(w: Writer, lines: list[list[str]], frac: float,
          drop_line: bool) -> list[list[str]]:
    """Copy of ``lines`` with ``frac`` of its tokens replaced and,
    optionally, one whole line dropped."""
    out = [list(ln) for ln in lines]
    if drop_line and len(out) > 2:
        del out[int(w.rng.integers(1, len(out)))]
    pos = [(i, j) for i, ln in enumerate(out) for j in range(len(ln))]
    n = max(1, int(round(frac * len(pos))))
    for p in w.rng.choice(len(pos), size=min(n, len(pos)), replace=False):
        i, j = pos[int(p)]
        out[i][j] = w.words(1, stop_p=0.0)[0]
    return out


def _urls(w: Writer, hosts: list[str], n: int, s: float) -> list[str]:
    hs = w.zipf_hosts(hosts, n, s)
    sections = ["news", "blog", "docs", "forum", "shop", "wiki"]
    return [f"https://{h}/{sections[i % len(sections)]}/"
            f"{VOCAB[(i * 7919) % 4000]}-{i:06d}" for i, h in enumerate(hs)]


def _ts(w: Writer, n: int) -> list[datetime]:
    offs = np.sort(w.rng.choice(90 * 86400, size=n, replace=False))
    return [datetime.fromtimestamp(EPOCH.timestamp() + int(o), tz=timezone.utc)
            for o in offs]


def _write_pages(out_dir: str, urls: list[str], texts: list[str],
                 ts: list[datetime]) -> None:
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(urls), pa.string()),
    })
    pq.write_table(table, os.path.join(out_dir, "pages.parquet"),
                   row_group_size=2048)


def _shuffled(w: Writer, items: list) -> list:
    return [items[int(i)] for i in w.rng.permutation(len(items))]


# ---- neardup_crawl --------------------------------------------------------

def gen_neardup(seed: int, out_dir: str) -> dict:
    c = NEAR
    w = Writer(seed, 1)
    docs: list[tuple[str, list[list[str]]]] = []  # (group tag, lines)

    # hot template: a page template with a short unique slot, on more docs
    # than the LSH bucket cap; pairwise shingle Jaccard ~0.94. The slot is
    # short enough that, in every band, the template's bucket stays well
    # above the cap (a band just under it would emit ~C(cap, 2) pairs and
    # make the workload's cost swing from seed to seed)
    head = w.lines(c["template_head"])
    tail = w.lines(c["template_tail"])
    for _ in range(c["hot_docs"]):
        docs.append(("hot", head + [w.words(int(w.rng.integers(2, 6)))]
                     + tail))

    # near clusters: base + 1-5 edited variants at graded edit rates, so
    # planted pairs straddle the 0.8 threshold on both sides
    rates = [0.005, 0.01, 0.015, 0.02, 0.03, 0.05, 0.08]
    for ci in range(c["clusters"]):
        base = w.lines(w.doc_len(220, 0.6, 60, 1500))
        docs.append((f"c{ci}", base))
        for _ in range(int(w.rng.integers(1, 6))):
            frac = rates[int(w.rng.integers(len(rates)))]
            docs.append((f"c{ci}", _edit(w, base, frac,
                                         bool(w.rng.random() < 0.3))))

    # exact groups: byte copies (one or two) of background/cluster docs
    ks = [1 + int(w.rng.random() < 0.3) for _ in range(c["exact_groups"])]
    for _ in range(c["n_docs"] - len(docs) - sum(ks)):
        docs.append(("bg", w.lines(w.doc_len(220, 0.7, 30, 2000))))
    src = w.rng.choice(len(docs) - c["hot_docs"], size=len(ks),
                       replace=False) + c["hot_docs"]
    for k, si in zip(ks, src):
        docs.extend([docs[int(si)]] * k)

    docs = _shuffled(w, docs)
    tags = [tag for tag, _ in docs]
    texts = [render(lines) for _, lines in docs]
    toks = [flat(lines) for _, lines in docs]

    hosts = w.hosts(c["hosts"])
    urls = _urls(w, hosts, len(texts), 1.0)
    _write_pages(out_dir, urls, texts, _ts(w, len(texts)))

    # planted pairs: every pair inside a cluster, the hot docs paired with
    # the first hot doc, and every pair of byte-identical docs, each with
    # its exact shingle Jaccard
    groups: dict[str, list[int]] = {}
    for i, tag in enumerate(tags):
        if tag != "bg":
            groups.setdefault(tag, []).append(i)
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    sh = {}
    pa_, pb_, pj_ = [], [], []
    seen: set[tuple[int, int]] = set()
    for tag, members in groups.items():
        for i in members:
            if i not in sh:
                sh[i] = shingles(toks[i])
        # the hot group is one cluster either way: pair its docs with its
        # first doc instead of listing all C(500, 2) pairs
        pairs = ([(members[0], b) for b in members[1:]] if tag == "hot"
                 else combinations(members, 2))
        for a, b in pairs:
            seen.add((a, b))
            pa_.append(a)
            pb_.append(b)
            pj_.append(jaccard(sh[a], sh[b]))
    for members in by_text.values():
        for a, b in combinations(members, 2):
            if (a, b) not in seen:
                pa_.append(a)
                pb_.append(b)
                pj_.append(1.0)
    pq.write_table(pa.table({"a": pa.array(pa_, pa.int32()),
                             "b": pa.array(pb_, pa.int32()),
                             "jaccard": pa.array(pj_, pa.float64())}),
                   os.path.join(out_dir, "planted_pairs.parquet"))
    hot = groups["hot"]
    return {"hot_docs": len(hot), "hot_indices": hot,
            "clusters": c["clusters"],
            "exact_groups": sum(1 for m in by_text.values() if len(m) > 1),
            "planted_pairs": len(pa_)}


# ---- exact_crawl ----------------------------------------------------------

def _mid_flip(text: str) -> str:
    """Same length, one letter changed at the middle of the text."""
    i = len(text) // 2
    while not text[i].isalpha():
        i += 1
    ch = chr((ord(text[i]) - 97 + 1) % 26 + 97)
    return text[:i] + ch + text[i + 1:]


def gen_exact(seed: int, out_dir: str) -> dict:
    c = EXACT
    w = Writer(seed, 2)
    texts: list[str] = []
    # soft-404 pages: short, heavily duplicated
    for _ in range(c["soft404_groups"]):
        t = render(w.lines(int(w.rng.integers(8, 30))))
        texts.extend([t] * int(w.rng.integers(20, 61)))
    # trios: two identical long pages (>16 KiB, so the quick digest samples
    # only the ends) and a third differing by one letter in the middle
    for _ in range(c["trios"]):
        t = render(w.lines(int(w.rng.integers(3200, 4200))))
        texts.extend([t, t, _mid_flip(t)])
    slots = c["n_docs"] - len(texts)
    sizes: list[int] = []
    while sum(sizes) < c["dup_share"] * slots:
        sizes.append(int(w.rng.choice([2, 3, 4, 5, 6],
                                      p=[.5, .25, .12, .08, .05])))
    def page() -> str:
        return render(w.lines(w.doc_len(c["median_tokens"], c["sigma"],
                                        15, 5000)))

    for k in sizes:
        texts.extend([page()] * k)
    while len(texts) < c["n_docs"]:
        texts.append(page())
    texts = _shuffled(w, texts[:c["n_docs"]])
    urls = _urls(w, w.hosts(c["hosts"]), len(texts), 1.0)
    _write_pages(out_dir, urls, texts, _ts(w, len(texts)))
    return {"trios": c["trios"], "soft404_groups": c["soft404_groups"],
            "planted_dup_groups": len(sizes)}


# ---- curate_funnel --------------------------------------------------------

def _pii_line(w: Writer, host: str) -> list[str]:
    a, b = VOCAB[w.rng.integers(0, 3000, 2)]
    ip = ".".join(str(int(x)) for x in w.rng.integers(1, 255, 4))
    toks = w.sentence_tokens(int(w.rng.integers(10, 20)))
    pos = int(w.rng.integers(1, len(toks) - 1))
    kind = int(w.rng.integers(3))
    pii = ([f"{a}.{b}@{host}"] if kind != 1 else []) + \
          (["server", ip] if kind != 0 else [])
    return toks[:pos] + pii + toks[pos:]


def _low_quality(w: Writer) -> list[list[str]]:
    kind = int(w.rng.integers(4))
    if kind == 0:   # too short
        return [w.sentence_tokens(int(w.rng.integers(12, 40)))]
    if kind == 1:   # repetitive: a handful of words over and over
        pool = w.words(5) + ["the", "and"]
        return [[pool[int(i)] for i in w.rng.integers(0, len(pool), 120)]]
    if kind == 2:   # no stopwords at all
        return [w.sentence_tokens(30, stop_p=0.0) for _ in range(4)]
    toks = w.sentence_tokens(90)   # punctuation-heavy
    return [[t if t in STOPWORDS else t + ",!?" for t in toks]]


def _paraphrase(w: Writer, toks: list[str], gap: tuple[int, int]) -> list[str]:
    """One token replaced every ``gap`` tokens: no run of gap[1] tokens
    survives intact, while most 5-word shingles do."""
    out = list(toks)
    i = int(w.rng.integers(gap[0] // 2, gap[0]))
    while i < len(out):
        out[i] = w.words(1, stop_p=0.0)[0] + "s"
        i += int(w.rng.integers(gap[0], gap[1]))
    return out


def gen_curate(seed: int, out_dir: str, min_df: int, ngram: int) -> dict:
    c = CURATE
    w = Writer(seed, 3)
    hosts = w.hosts(c["hosts"])
    n = c["n_docs"]
    boiler = [w.sentence_tokens(int(w.rng.integers(10, 15)))
              for _ in range(c["boilerplate_lines"])]
    shared = [w.sentence_tokens(int(w.rng.integers(12, 26)))
              for _ in range(c["shared_lines"])]
    evals = [w.sentence_tokens(c["eval_tokens"]) for _ in range(c["eval_items"])]

    n_dups = int(c["exact_dup_share"] * n)
    n_var = int(c["url_variant_share"] * n)
    n_lowq = int(c["lowq_share"] * n)
    n_leak = c["exact_leaks"] + c["paraphrase_leaks"]
    n_normal = n - n_dups - n_var - n_lowq - n_leak

    kinds: list[str] = []
    docs: list[list[list[str]]] = []
    for _ in range(n_normal):
        docs.append(w.lines(w.doc_len(160, 0.5, 60, 600)))
        kinds.append("normal")
    for _ in range(n_lowq):
        docs.append(_low_quality(w))
        kinds.append("lowq")
    eval_order = w.rng.permutation(c["eval_items"])
    for j in range(c["exact_leaks"]):
        d = w.lines(w.doc_len(120, 0.4, 60, 300))
        d.insert(int(w.rng.integers(0, len(d) + 1)), list(evals[eval_order[j]]))
        docs.append(d)
        kinds.append("exact_leak")
    for j in range(c["paraphrase_leaks"]):
        e = evals[eval_order[c["exact_leaks"] + j]]
        p = _paraphrase(w, e, (ngram - 10, ngram - 4))
        docs.append([p[i:i + 40] for i in range(0, len(p), 40)])
        kinds.append("paraphrase_leak")

    # boilerplate header/footer lines and shared quote lines on normal docs
    normal_idx = [i for i, k in enumerate(kinds) if k == "normal"]
    for i in normal_idx:
        for b in boiler:
            if w.rng.random() < c["boilerplate_p"]:
                if w.rng.random() < 0.5:
                    docs[i].insert(0, list(b))
                else:
                    docs[i].append(list(b))
    for s in shared:
        for i in w.rng.choice(normal_idx, size=int(w.rng.integers(2, 6)),
                              replace=False):
            docs[int(i)].insert(int(w.rng.integers(0, len(docs[int(i)]) + 1)),
                                list(s))

    urls = _urls(w, hosts, len(docs), 1.1)
    pii_idx = w.rng.choice(normal_idx, size=int(c["pii_share"] * n),
                           replace=False)
    for i in pii_idx:
        host = urls[int(i)].split("/")[2]
        d = docs[int(i)]
        d.insert(int(w.rng.integers(0, len(d) + 1)), _pii_line(w, host))

    texts = [render(d) for d in docs]
    ts = _ts(w, len(docs) + n_var + n_dups)
    # exact copies (new urls) and url variants (a tracking parameter on an
    # existing url, different content); both crawled after every original,
    # so url canonicalization keeps the original
    src = w.rng.choice(normal_idx, size=n_dups + n_var, replace=False)
    copy_urls = _urls(w, hosts, n_dups, 1.1)
    rows = [(u, t, ts[i], k) for i, (u, t, k) in
            enumerate(zip(urls, texts, kinds))]
    for j in range(n_dups):
        rows.append((copy_urls[j].replace("-", "-dup-", 1), texts[int(src[j])],
                     ts[len(docs) + j], "exact_copy"))
    for j in range(n_var):
        si = int(src[n_dups + j])
        body = render(w.lines(w.doc_len(160, 0.5, 60, 600)))
        rows.append((urls[si] + "?utm_source=feed", body,
                     ts[len(docs) + n_dups + j], "url_variant"))
    rows = _shuffled(w, rows)
    urls_o = [r[0] for r in rows]
    texts_o = [r[1] for r in rows]
    ts_o = [r[2] for r in rows]
    kinds_o = [r[3] for r in rows]
    _write_pages(out_dir, urls_o, texts_o, ts_o)
    pq.write_table(pa.table({"text": pa.array([" ".join(e) for e in evals],
                                              pa.string())}),
                   os.path.join(out_dir, "eval.parquet"))

    boiler_lines = [" ".join(b) for b in boiler]
    df = {b: 0 for b in boiler_lines}
    for t in set(texts_o):
        for ln in set(t.split("\n")):
            if ln in df:
                df[ln] += 1
    if min(df.values()) < 5 * min_df:
        raise RuntimeError(f"boilerplate line planted in too few docs: {df}")
    by_kind: dict[str, list[str]] = {}
    for u, k in zip(urls_o, kinds_o):
        by_kind.setdefault(k, []).append(u)
    return {"boilerplate_lines": boiler_lines,
            "boilerplate_doc_freq": sorted(df.values()),
            "exact_leak_urls": sorted(by_kind.get("exact_leak", [])),
            "paraphrase_leak_urls": sorted(by_kind.get("paraphrase_leak", [])),
            "kinds": {k: len(v) for k, v in sorted(by_kind.items())},
            "pii_docs": len(pii_idx)}


GENERATORS = {"neardup_crawl": gen_neardup, "exact_crawl": gen_exact,
              "curate_funnel": gen_curate}


def generate(workload: str, seed: int, out_dir: str, **kw) -> dict:
    """Write one workload's inputs into ``out_dir`` (created, must be
    empty) and return its manifest."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"workload": workload, "seed": seed, "gen_version": GEN_VERSION,
                **GENERATORS[workload](seed, out_dir, **kw)}
    manifest["n_docs"] = pq.read_metadata(
        os.path.join(out_dir, "pages.parquet")).num_rows
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    import sys
    import time

    t0 = time.time()
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
                 **({"min_df": 20, "ngram": 50}
                    if sys.argv[1] == "curate_funnel" else {}))
    print(json.dumps({k: v for k, v in m.items() if k != "boilerplate_lines"}),
          f"{time.time() - t0:.2f}s")
