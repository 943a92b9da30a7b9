"""Each output check passes on a correct output and fails on a
deliberately corrupted one. No Spark: run with

    python3 -m pytest crawlbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

W = gen.Writer(seed=5, salt=9)


def text(n: int = 60) -> str:
    return gen.render(W.lines(n))


# ---- exact_crawl -----------------------------------------------------------

@pytest.fixture
def exact_rows():
    a, b, c = text(), text(), text()
    return [("u1", a), ("u2", a), ("u3", a), ("u4", b), ("u5", b), ("u6", c)]


def published_groups(rows):
    out = []
    for digest, urls in checks.sha256_groups(rows).items():
        size = len(dict(rows)[urls[0]])
        out.append({"digest": digest, "n_docs": len(urls), "size": size,
                    "wasted_space": size * (len(urls) - 1), "urls": urls})
    return out


def test_exact_groups_pass(exact_rows):
    assert checks.check_exact_groups(exact_rows,
                                     published_groups(exact_rows)) == []


def test_exact_groups_dropped_member(exact_rows):
    groups = published_groups(exact_rows)
    big = max(groups, key=lambda g: g["n_docs"])
    big["urls"] = big["urls"][:-1]
    assert checks.check_exact_groups(exact_rows, groups)


def test_exact_groups_wrong_digest(exact_rows):
    groups = published_groups(exact_rows)
    groups[0]["digest"] = hashlib.sha256(b"other").hexdigest()
    assert checks.check_exact_groups(exact_rows, groups)


def stats_for(rows):
    groups = checks.sha256_groups(rows)
    lens = {}
    for _, t in rows:
        lens[len(t)] = lens.get(len(t), 0) + 1
    dup = sum(len(u) for u in groups.values())
    return {"total_docs": len(rows), "duplicate_groups": len(groups),
            "duplicate_docs": dup,
            "total_wasted_space": sum(len(dict(rows)[u[0]]) * (len(u) - 1)
                                      for u in groups.values()),
            "processed_docs": sum(1 for _, t in rows if lens[len(t)] > 1),
            "full_hashed_docs": dup}


def test_exact_stats_pass(exact_rows):
    assert checks.check_exact_stats(exact_rows, stats_for(exact_rows)) == []


def test_exact_stats_wrong_count(exact_rows):
    st = stats_for(exact_rows)
    st["duplicate_docs"] -= 1
    assert checks.check_exact_stats(exact_rows, st)


def test_exact_stats_full_hashed_out_of_range(exact_rows):
    st = stats_for(exact_rows)
    st["full_hashed_docs"] = st["processed_docs"] + 1
    assert checks.check_exact_stats(exact_rows, st)


# ---- neardup_crawl ---------------------------------------------------------

PAIRS = [("a", "b"), ("b", "c"), ("d", "e")]
CLUSTERS = [("a", "a", 1), ("b", "a", 1), ("c", "a", 1),
            ("d", "d", 2), ("e", "d", 2)]
PLANTED = [("a", "b", 0.9, "other"), ("a", "c", 0.85, "other"),
           ("d", "e", 0.95, "other"), ("a", "d", 0.3, "other")]


def test_clusters_pass():
    assert checks.check_clusters(PAIRS, CLUSTERS) == []


def test_clusters_dropped_member():
    assert checks.check_clusters(PAIRS, CLUSTERS[:-1])


def test_clusters_merged():
    merged = [(u, "a", 1) for u, _, _ in CLUSTERS]
    assert checks.check_clusters(PAIRS, merged)


def test_clusters_wrong_representative():
    wrong = [(u, "b" if r == "a" else r, c) for u, r, c in CLUSTERS]
    assert checks.check_clusters(PAIRS, wrong)


def test_recall_pass():
    bad, recall = checks.check_recall(PLANTED, {u: r for u, r, _ in CLUSTERS},
                                      0.8, 0.99)
    assert bad == [] and recall == {"other": 1.0}


def test_recall_dropped_member():
    rep = {u: r for u, r, _ in CLUSTERS if u != "c"}
    bad, recall = checks.check_recall(PLANTED, rep, 0.8, 0.99)
    assert bad and recall["other"] < 1.0


def test_pair_jaccard():
    base = W.lines(200)
    near = gen._edit(W, base, 0.01, False)
    texts = {"a": gen.render(base), "b": gen.render(near), "c": text(200)}
    bad, low = checks.check_pair_jaccard(texts, [("a", "b")], 0.4, 10, 0)
    assert bad == [] and low > 0.8
    bad, low = checks.check_pair_jaccard(texts, [("a", "b"), ("a", "c")],
                                         0.4, 10, 0)
    assert bad and low < 0.1


def test_pair_jaccard_unknown_url():
    bad, _ = checks.check_pair_jaccard({"a": "x y"}, [("a", "zz")], 0.4, 10, 0)
    assert bad


def test_shingles_match_generator():
    t = W.lines(50)
    assert len(checks.shingle_set(gen.render(t))) == len(
        gen.shingles(gen.flat(t)))


def test_bucket_cap():
    ok = {"capped_buckets": 2, "max_bucket": 300,
          "pairs_skipped_by_cap": 2 * (300 * 299 // 2 - 299)}
    assert checks.check_bucket_cap(ok, 256, 400) == []
    silent = {"capped_buckets": 0, "max_bucket": 300,
              "pairs_skipped_by_cap": 0}
    assert checks.check_bucket_cap(silent, 256, 400)
    unaccounted = dict(ok, pairs_skipped_by_cap=0)
    assert checks.check_bucket_cap(unaccounted, 256, 400)


# ---- curate_funnel ---------------------------------------------------------

def test_splits():
    urls = {"a", "b", "c"}
    assert checks.check_splits(urls, {"train": ["a"], "val": ["b"]}) == []
    assert checks.check_splits(urls, {"train": ["a"], "val": ["a"]})
    assert checks.check_splits(urls, {"train": ["a", "zz"]})
    assert checks.check_splits(urls, {"train": []})


@pytest.fixture
def curated():
    boiler = "all rights reserved by the site owner"
    src = {"a": text() + "\n" + boiler, "b": text() + "\n" + boiler,
           "c": text()}
    survivors = {u: t.replace("\n" + boiler, "") for u, t in src.items()}
    return src, survivors, [boiler]


def test_content_pass(curated):
    src, survivors, boiler = curated
    assert checks.check_content(src, survivors, boiler) == []


def test_content_unredacted_email(curated):
    src, survivors, boiler = curated
    survivors["a"] += "\nwrite to jo.smith@example.org today"
    assert checks.check_content(src, survivors, boiler)


def test_content_unredacted_ipv4(curated):
    src, survivors, boiler = curated
    survivors["a"] += "\nserver 10.2.33.4 is up"
    assert checks.check_content(src, survivors, boiler)
    survivors["a"] = survivors["a"].replace("10.2.33.4", "<IP>")
    assert checks.check_content(src, survivors, boiler) == []


def test_content_boilerplate_kept(curated):
    src, survivors, boiler = curated
    survivors["c"] += "\n" + boiler[0]
    assert checks.check_content(src, survivors, boiler)


def test_content_repeated_line(curated):
    src, survivors, boiler = curated
    survivors["c"] += "\n" + survivors["a"].split("\n")[0]
    assert checks.check_content(src, survivors, boiler)


def test_content_duplicate_original(curated):
    src, survivors, boiler = curated
    src["c"] = src["a"]
    assert checks.check_content(src, survivors, boiler)


def test_decontamination():
    ev = " ".join(W.words(60))
    clean = {"a": text(), "b": text()}
    assert checks.check_decontamination(clean, [ev], 50, ["x"]) == []
    leaked = dict(clean, x=text() + "\n" + ev.upper())
    assert checks.check_decontamination(leaked, [ev], 50, ["x"])
    assert checks.check_decontamination(dict(clean, x="short"), [ev], 50,
                                        ["x"])


def test_caps():
    urls = [f"https://h{i % 3}.org/p{i}" for i in range(9)]
    train = ["one two three", "four five"]
    assert checks.check_caps(urls, train, 3, 5, 5) == []
    over = urls + ["https://www.h0.org:8080/extra"]
    assert checks.check_caps(over, train, 3, 5, 5)
    assert checks.check_caps(urls, train, 3, 4, 5)
    assert checks.check_caps(urls, train, 3, 5, 6)


# ---- generator -------------------------------------------------------------

def test_generator_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate("curate_funnel", 3, a, min_df=20, ngram=50)
    gen.generate("curate_funnel", 3, b, min_df=20, ngram=50)
    gen.generate("curate_funnel", 4, c, min_df=20, ngram=50)
    read = [open(os.path.join(d, "pages.parquet"), "rb").read()
            for d in (a, b, c)]
    assert read[0] == read[1] != read[2]


def test_raw_input_fails_curate_checks(tmp_path):
    """The planted input itself breaks the funnel's properties, so the
    checks can see a funnel that does nothing."""
    d = str(tmp_path / "c")
    m = gen.generate("curate_funnel", 3, d, min_df=20, ngram=50)
    rows = dict(checks.read_rows(os.path.join(d, "pages.parquet"),
                                 ["url", "text"]))
    evals = [t for (t,) in checks.read_rows(os.path.join(d, "eval.parquet"),
                                            ["text"])]
    assert len(checks.check_content(rows, rows, m["boilerplate_lines"])) >= 3
    assert checks.check_decontamination(rows, evals, 50, m["exact_leak_urls"])
    assert checks.check_caps(list(rows), list(rows.values()), 60, 120000, 0)
