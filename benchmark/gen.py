"""Seeded inputs for the benchmark workloads.

Every page set starts from ``fa_spark.gen_fixtures.gen_pages`` (the
FIXTURES.md content mix, Zipf(1.2) host skew) and reshapes it per workload:

- ``corpus_neardup``: half of the pages are members of duplicate clusters
  (Zipf(2) cluster sizes, 35% exact copies, 65% near copies with one extra
  sentence) on Zipf-skewed hosts.  The other half holds every content-mix
  case in its exact share, and cluster roots are articles that pass the
  quality gate and whose near copies stay above the Jaccard threshold, so
  seeds differ in content, not in how much of it survives to the corpus.
  Pages keep the fixture sizes (about
  2 KB): ``stages.text.repetition_metrics`` evaluates its 10-gram
  expression once per 2-gram row, which is quadratic in a document's
  tokens, and crawl-sized pages (median 6 KB, up to 64 KB) kept its tasks
  busy for minutes.
- ``resume_increment``: a fixed history of committed pages split into prior
  runs, plus a seeded increment that re-presents most of them unchanged,
  some with changed content, and some new urls.

Generation uses one process and numpy ``Generator``s only, so the same seed
gives the same bytes; ``digest`` is the check for that.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fa_spark import gen_fixtures as G

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

# rows per workload at the default size; the smoke test passes a small scale
ROWS = {
    # the corpus keeps about a third of its pages, each of a different length;
    # a few hundred of them are needed before stored_bytes_per_input_byte
    # stops following the seed's draw of lengths (per-stage overhead
    # dominates its Spark jobs: 1000 pages cost a third more than 200)
    "corpus_neardup": 1000,
    "resume_increment": 2000,
}

# corpus_neardup
CLUSTER_SHARE = 0.5  # share of pages that are cluster members (non-base)
CLUSTER_ZIPF = 2.0
CLUSTER_MAX = 40
EXACT_COPY_SHARE = 0.35
CLUSTER_SHAPE_SEED = 20250602
# words (of the article text) a cluster root has: fewer, and the extra
# sentence of a near copy takes it under the 0.8 Jaccard threshold; more, and
# the root fails the quality gate's unique-word ratio, so its whole cluster
# is dropped before dedup.  Drawn from all articles, where the few largest
# clusters landed moved the corpus size with the seed.
ROOT_WORDS = (80, 140)

# resume_increment
HISTORY_SEED = 20250601  # the committed history is the same for every seed
PRIOR_RUNS = 3
UNCHANGED_SHARE = 0.85  # presented pages already committed, same bytes
CHANGED_SHARE = 0.05  # presented pages with a committed url, new bytes
HISTORY_EXTRA = 0.10  # committed pages not presented again


def corpus_neardup(n: int, seed: int) -> pa.Table:
    """``n`` pages: fixture pages plus clusters of exact and near copies of
    their articles, under new urls on Zipf(1.2)-skewed hosts."""
    n_members = int(n * CLUSTER_SHARE)
    base = fixture_mix(n - n_members, seed)
    rng = np.random.default_rng([seed, 2])
    # the cluster sizes and the exact/near split are the same for every seed,
    # so seeds differ in content, not in how much duplication there is
    shape = np.random.default_rng(CLUSTER_SHAPE_SEED)
    cases = base.column("gt_case").to_pylist()
    htmls = base.column("html").to_pylist()
    lo, hi = ROOT_WORDS
    articles = [i for i, (c, t) in enumerate(zip(cases, base.column("gt_text").to_pylist()))
                if c == "article" and lo <= len(t.split()) < hi]
    order = rng.permutation(len(articles))
    members: list[tuple[bytes, str]] = []
    k = 0
    while len(members) < n_members:
        root = articles[int(order[k % len(articles)])]
        k += 1
        size = min(int(shape.zipf(CLUSTER_ZIPF)), CLUSTER_MAX, n_members - len(members))
        for _ in range(size):
            if shape.random() < EXACT_COPY_SHARE:
                members.append((htmls[root], "cluster_exact"))
            else:
                extra = G._sentence(rng, 12)
                html = htmls[root].replace(
                    b"</main>", f"<p>{extra}</p></main>".encode(), 1)
                members.append((html, "cluster_near"))
    hosts = np.minimum(rng.zipf(1.2, size=len(members)), 200) - 1
    urls = [f"https://host{h}.example/dup/{i}.html" for i, h in enumerate(hosts)]
    extra = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array([G.EPOCH] * len(members), pa.timestamp("us", tz="UTC")),
        "html": pa.array([m[0] for m in members], pa.binary()),
        "text": pa.array([""] * len(members), pa.string()),
        "lang": pa.array(["en"] * len(members), pa.string()),
        "gt_case": pa.array([m[1] for m in members], pa.string()),
        "gt_text": pa.array([""] * len(members), pa.string()),
    })
    table = pa.concat_tables([base, extra])
    return table.take(pa.array(rng.permutation(table.num_rows)))


def fixture_mix(n: int, seed: int) -> pa.Table:
    """``n`` fixture pages with every content-mix case in its FIXTURES.md
    share, exactly: ``gen_pages`` draws each page's case independently, so
    its counts move with the seed.  The pages are the first of each case in
    a longer ``gen_pages`` draw, in their drawn order."""
    quota = {case: n * share // 100 for case, share in G.CASES}
    quota["article"] += n - sum(quota.values())
    pool_n = 3 * n + 100
    while True:
        pool = G.gen_pages(pool_n, seed=seed)
        left, take = dict(quota), []
        for i, case in enumerate(pool.column("gt_case").to_pylist()):
            if left.get(case, 0) > 0:
                left[case] -= 1
                take.append(i)
        if not any(left.values()):
            return pool.take(pa.array(take))
        pool_n *= 2


def resume_history(n: int) -> list[pa.Table]:
    """The committed history the increments of ``n`` presented pages land
    on, split into the prior runs.  It does not depend on the seed, so the
    output directory the prior runs leave is built once and reused."""
    n_history = int(n * (UNCHANGED_SHARE + CHANGED_SHARE + HISTORY_EXTRA))
    history = G.gen_pages(n_history, seed=HISTORY_SEED)
    bounds = np.linspace(0, n_history, PRIOR_RUNS + 1).astype(int)
    return [history.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def resume_increment(n: int, seed: int) -> pa.Table:
    """``n`` pages presented to the increment: committed pages re-presented
    unchanged, committed urls with new bytes, and new urls."""
    n_unchanged = int(n * UNCHANGED_SHARE)
    n_changed = int(n * CHANGED_SHARE)
    n_new = n - n_unchanged - n_changed
    history = pa.concat_tables(resume_history(n))
    rng = np.random.default_rng([seed, 3])
    pick = rng.permutation(history.num_rows)
    unchanged = history.take(pa.array(np.sort(pick[:n_unchanged])))
    changed = history.take(pa.array(np.sort(pick[n_unchanged:n_unchanged + n_changed])))
    changed = changed.set_column(
        changed.schema.get_field_index("html"), "html",
        pa.array([h + f"<!-- rev {G._sentence(rng, 6)} -->".encode()
                  for h in changed.column("html").to_pylist()], pa.binary()))
    changed = changed.set_column(
        changed.schema.get_field_index("gt_case"), "gt_case",
        pa.array(["changed"] * changed.num_rows, pa.string()))
    new = G.gen_pages(n_new, seed=seed + 1_000_003)
    new = new.set_column(0, "url", pa.array(
        [u.replace(".example/", ".example/new/", 1) for u in new.column("url").to_pylist()],
        pa.string()))
    new = new.set_column(new.schema.get_field_index("gt_case"), "gt_case",
                         pa.array(["new"] * new.num_rows, pa.string()))
    increment = pa.concat_tables([unchanged, changed, new])
    return increment.take(pa.array(rng.permutation(increment.num_rows)))


def digest(table: pa.Table) -> str:
    h = hashlib.sha256()
    for url, html in zip(table.column("url").to_pylist(), table.column("html").to_pylist()):
        h.update(url.encode())
        h.update(hashlib.sha256(html or b"").digest())
    return h.hexdigest()


def write_pages(table: pa.Table, path: str, files: int) -> None:
    """Write the page columns as ``files`` parquet files under ``path``, so
    the scan has several splits the way a crawl shard does."""
    os.makedirs(path, exist_ok=True)
    t = table.select(PAGE_COLUMNS)
    bounds = np.linspace(0, t.num_rows, files + 1).astype(int)
    for k, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(t.slice(a, b - a), os.path.join(path, f"part-{k:05d}.parquet"))


def properties(table: pa.Table) -> dict:
    """Input properties recorded next to every result."""
    sizes = np.array([len(h or b"") for h in table.column("html").to_pylist()])
    mix = Counter(table.column("gt_case").to_pylist())
    n = table.num_rows
    shas = [hashlib.sha256(h or b"").digest() for h in table.column("html").to_pylist()]
    return {
        "docs": n,
        "html_bytes": int(sizes.sum()),
        "size_quantiles_bytes": {
            f"p{int(q * 100)}": int(np.quantile(sizes, q))
            for q in (0.1, 0.5, 0.9, 0.99, 1.0)
        },
        "content_mix": {k: round(v / n, 4) for k, v in sorted(mix.items())},
        "exact_dup_share": round(1 - len(set(shas)) / n, 4),
    }
