"""Output checks, each written from the method's definition.

None of these calls the program or compares against stored output: the
expected values are recomputed here from the generated input (or from
the ground truth the generator planted), or are properties the method
must have. Every check returns a list of failure messages; empty means
it passed. The loaders at the bottom turn a job's published files into
the plain Python values the checks take, so the tests can hand them
corrupted values directly.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
from collections import Counter, defaultdict

#: ASCII whitespace, the engine-wide token separator
_WS = re.compile("[ \t\n\x0b\x0c\r]+")
EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*"
                      r"\.[A-Za-z]{2,}")
IPV4_RE = re.compile(r"(?<![0-9.])\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}(?![0-9])")


def tokens(text: str) -> list[str]:
    return [t for t in _WS.split(text) if t]


def shingle_set(text: str, k: int = 5) -> set:
    toks = tokens(text)
    if len(toks) >= k:
        return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    return set(toks) if toks else {""}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def host_of(url: str) -> str:
    """Lowercased host without ``www.`` and port."""
    host = url.split("://", 1)[-1].split("/", 1)[0].split("?", 1)[0].lower()
    host = host[4:] if host.startswith("www.") else host
    return re.sub(r":[0-9]+$", "", host)


def _fail(bad: list[str], msg: str, examples) -> None:
    bad.append(f"{msg}: {list(examples)[:3]}")


# ---- exact_crawl -------------------------------------------------------------

def sha256_groups(rows: list[tuple[str, str]]) -> dict[str, list[str]]:
    """digest → sorted urls, for digests shared by two or more docs."""
    by = defaultdict(list)
    for url, text in rows:
        by[hashlib.sha256(text.encode("utf-8")).hexdigest()].append(url)
    return {d: sorted(u) for d, u in by.items() if len(u) > 1}


def check_exact_groups(rows: list[tuple[str, str]],
                       groups: list[dict]) -> list[str]:
    """The published groups are exactly the sha256-of-text groups."""
    bad: list[str] = []
    want = sha256_groups(rows)
    size = {url: len(text) for url, text in rows}
    got = {}
    for g in groups:
        urls = sorted(g["urls"])
        if g["digest"] in got:
            _fail(bad, "digest published twice", [g["digest"]])
        got[g["digest"]] = urls
        if g["n_docs"] != len(urls):
            _fail(bad, "n_docs differs from member count", [g["digest"]])
        sz = size.get(urls[0], -1)
        if g["size"] != sz or g["wasted_space"] != sz * (len(urls) - 1):
            _fail(bad, "size/wasted_space wrong", [g["digest"]])
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if missing:
        _fail(bad, f"{len(missing)} sha256 groups missing", missing)
    if extra:
        _fail(bad, f"{len(extra)} groups that are not sha256 groups", extra)
    wrong = [d for d in want.keys() & got.keys() if want[d] != got[d]]
    if wrong:
        _fail(bad, f"{len(wrong)} groups with wrong members", wrong)
    return bad


def check_exact_stats(rows: list[tuple[str, str]], stats: dict) -> list[str]:
    """Report totals equal the same computation over the input; the
    funnel counters respect the length → quick → full order."""
    bad: list[str] = []
    groups = sha256_groups(rows)
    size = {url: len(text) for url, text in rows}
    lens = Counter(size.values())
    want = {
        "total_docs": len(rows),
        "duplicate_groups": len(groups),
        "duplicate_docs": sum(len(u) for u in groups.values()),
        "total_wasted_space": sum(size[u[0]] * (len(u) - 1)
                                  for u in groups.values()),
        "processed_docs": sum(1 for s in size.values() if lens[s] > 1),
    }
    for k, v in want.items():
        if stats.get(k) != v:
            bad.append(f"stats.{k} = {stats.get(k)}, expected {v}")
    fh = stats.get("full_hashed_docs", -1)
    if not want["duplicate_docs"] <= fh <= want["processed_docs"]:
        bad.append(f"stats.full_hashed_docs = {fh} outside "
                   f"[{want['duplicate_docs']}, {want['processed_docs']}]")
    return bad


# ---- neardup_crawl -----------------------------------------------------------

def check_recall(planted: list[tuple[str, str, float, str]],
                 rep: dict[str, str], threshold: float,
                 floor: float) -> tuple[list[str], dict[str, float]]:
    """Share of planted pairs at or above ``threshold`` whose two docs
    share a cluster, per planted kind; each must reach ``floor``."""
    hit, tot = Counter(), Counter()
    for a, b, j, kind in planted:
        if j >= threshold:
            tot[kind] += 1
            ra, rb = rep.get(a), rep.get(b)
            hit[kind] += ra is not None and ra == rb
    recall = {k: hit[k] / tot[k] for k in tot}
    bad = [f"recall[{k}] = {r:.4f} < {floor} ({tot[k]} pairs)"
           for k, r in recall.items() if r < floor]
    if not tot:
        bad.append("no planted pair at or above the threshold")
    return bad, recall


def check_pair_jaccard(texts: dict[str, str], pairs: list[tuple[str, str]],
                       floor: float, sample: int,
                       seed: int) -> tuple[list[str], float]:
    """Every published pair (or a seeded sample of ``sample``) has exact
    5-word-shingle Jaccard above ``floor``. Returns the lowest seen."""
    if len(pairs) > sample:
        pairs = random.Random(seed).sample(pairs, sample)
    cache: dict[str, set] = {}

    def sh(u: str) -> set:
        if u not in cache:
            cache[u] = shingle_set(texts[u])
        return cache[u]

    bad: list[str] = []
    unknown = [p for p in pairs if p[0] not in texts or p[1] not in texts]
    if unknown:
        _fail(bad, f"{len(unknown)} pairs name urls not in the input", unknown)
    low, lowest = [], 1.0
    for a, b in pairs:
        if a in texts and b in texts:
            j = jaccard(sh(a), sh(b))
            lowest = min(lowest, j)
            if j <= floor:
                low.append((a, b, round(j, 4)))
    if low:
        _fail(bad, f"{len(low)} published pairs at Jaccard <= {floor}", low)
    return bad, lowest


def union_find_reps(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """url → smallest url of its connected component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_clusters(pairs: list[tuple[str, str]],
                   clusters: list[tuple[str, str, int]]) -> list[str]:
    """Clusters are the connected components of the published pairs,
    the min url as representative, one id per representative."""
    bad: list[str] = []
    want = union_find_reps(pairs)
    got: dict[str, str] = {}
    ids: dict[str, set] = defaultdict(set)
    for url, rep, cid in clusters:
        if url in got:
            _fail(bad, "url in two cluster rows", [url])
        got[url] = rep
        ids[rep].add(cid)
    if got.keys() != want.keys():
        _fail(bad, "clustered urls differ from the urls in pairs",
              sorted(got.keys() ^ want.keys()))
    wrong = [u for u in got.keys() & want.keys() if got[u] != want[u]]
    if wrong:
        _fail(bad, f"{len(wrong)} urls with the wrong representative", wrong)
    multi = [r for r, s in ids.items() if len(s) != 1]
    if multi:
        _fail(bad, "representatives with several cluster ids", multi)
    owners = Counter(next(iter(s)) for s in ids.values())
    shared = [c for c, n in owners.items() if n > 1]
    if shared:
        _fail(bad, "cluster ids shared by several representatives", shared)
    return bad


def check_bucket_cap(stats: dict, bucket_cap: int, hot_docs: int) -> list[str]:
    """The planted hot bucket (more docs than the cap) is reported as
    capped, with the pairs star pairing skipped (no silent caps)."""
    bad: list[str] = []
    capped = stats.get("capped_buckets") or 0
    skipped = stats.get("pairs_skipped_by_cap") or 0
    biggest = stats.get("max_bucket") or 0
    if hot_docs > bucket_cap and capped < 1:
        bad.append(f"no capped bucket reported (hot group of {hot_docs} "
                   f"docs, cap {bucket_cap})")
    if capped and biggest <= bucket_cap:
        bad.append(f"max_bucket {biggest} <= cap {bucket_cap} with "
                   f"{capped} capped buckets")
    m = bucket_cap + 1
    lo = capped * (m * (m - 1) // 2 - (m - 1))
    hi = capped * (biggest * (biggest - 1) // 2 - (biggest - 1))
    if not lo <= skipped <= hi:
        bad.append(f"pairs_skipped_by_cap {skipped} outside [{lo}, {hi}] "
                   f"for {capped} capped buckets")
    return bad


# ---- curate_funnel -----------------------------------------------------------

def check_splits(input_urls: set[str],
                 splits: dict[str, list[str]]) -> list[str]:
    """Each surviving doc sits in exactly one split and came from the input."""
    bad: list[str] = []
    seen = Counter(u for urls in splits.values() for u in urls)
    twice = [u for u, n in seen.items() if n > 1]
    if twice:
        _fail(bad, f"{len(twice)} docs in more than one split row", twice)
    alien = [u for u in seen if u not in input_urls]
    if alien:
        _fail(bad, f"{len(alien)} docs not in the input", alien)
    if not seen:
        bad.append("no doc survived the funnel")
    return bad


def check_content(input_text: dict[str, str], survivors: dict[str, str],
                  boilerplate: list[str]) -> list[str]:
    """Exact dedup, PII redaction, boilerplate cut and line dedup held."""
    bad: list[str] = []
    orig = Counter(input_text[u] for u in survivors if u in input_text)
    dup = [t[:40] for t, n in orig.items() if n > 1]
    if dup:
        _fail(bad, f"{len(dup)} original texts kept more than once", dup)
    pii = [u for u, t in survivors.items()
           if EMAIL_RE.search(t) or IPV4_RE.search(t)]
    if pii:
        _fail(bad, f"{len(pii)} survivors still hold an email or IPv4", pii)
    boiler = set(boilerplate)
    line_docs: dict[str, int] = Counter()
    kept_boiler = set()
    for t in survivors.values():
        for ln in t.split("\n"):
            ln = ln.strip()
            if ln:
                line_docs[ln] += 1
                if ln in boiler:
                    kept_boiler.add(ln)
    if kept_boiler:
        _fail(bad, f"{len(kept_boiler)} planted boilerplate lines kept",
              kept_boiler)
    rep = [ln[:40] for ln, n in line_docs.items() if n > 1]
    if rep:
        _fail(bad, f"{len(rep)} lines repeat across survivors", rep)
    return bad


def ngrams(text: str, n: int) -> set:
    toks = tokens(text.lower())
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def check_decontamination(survivors: dict[str, str], eval_texts: list[str],
                          n: int, exact_leaks: list[str]) -> list[str]:
    """No survivor shares a lowercased word ``n``-gram with the eval set,
    and no planted exact leak survives."""
    bad: list[str] = []
    grams = set().union(*(ngrams(t, n) for t in eval_texts))
    hit = [u for u, t in survivors.items() if ngrams(t, n) & grams]
    if hit:
        _fail(bad, f"{len(hit)} survivors share an eval {n}-gram", hit)
    leaked = [u for u in exact_leaks if u in survivors]
    if leaked:
        _fail(bad, f"{len(leaked)} planted exact leaks survived", leaked)
    return bad


def check_caps(survivor_urls: list[str], train_texts: list[str],
               max_per_host: int, budget: int,
               reported_train_tokens: int) -> list[str]:
    """No host over the per-host cap; train tokens within the budget."""
    bad: list[str] = []
    per_host = Counter(host_of(u) for u in survivor_urls)
    over = [(h, n) for h, n in per_host.items() if n > max_per_host]
    if over:
        _fail(bad, f"{len(over)} hosts over the cap of {max_per_host}", over)
    toks = sum(len(tokens(t)) for t in train_texts)
    if toks > budget:
        bad.append(f"train tokens {toks} over the budget {budget}")
    if toks != reported_train_tokens:
        bad.append(f"report says {reported_train_tokens} train tokens, "
                   f"the shards hold {toks}")
    return bad


# ---- loaders -----------------------------------------------------------------

def read_rows(path: str, columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=columns)
    return list(zip(*(t[c].to_pylist() for c in columns)))


def read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)

