"""Seeded input generators for the link-graph benchmark.

Two kinds of input, both written as parquet so the engine receives
nothing but files:

* ``web_graph`` — a web-like directed link graph: pages grouped into
  hosts of Zipf-distributed size, most links staying on their host,
  power-law popularity of link targets, one hub page per host that its
  pages link to, one global hot hub, a fixed ~10 % of pages that are
  dangling (no out-links) and paginated chains hanging off host hubs
  (they set the graph's diameter, so connected components needs a
  known number of rounds).
* ``pages_table`` — a Common-Crawl-style ``pages`` table with the
  BASELINE schema ``(url, warc_ts, html, text, lang)`` whose html holds
  one ``<a href>`` per planned link of a ``web_graph``.

Every size that sets the engine's work (page count, edge count, chain
shape, dangling count) is fixed by the parameters and the module
constants; the seed only moves where the links land. So different
seeds give statistically identical work, which keeps run-to-run
spread of the benchmark low.

No Spark here: numpy + pyarrow only.

Usage (writes a workload's inputs, sized as in workloads.py, and
prints each file's content hash):
    python3 perfbench/generate.py --workload crawl_to_rank --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import datetime
import hashlib
import os
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "es", "de", "zh")
HOT_HUB = "portal.example.org/home"
N_HOSTS = 64
LOCAL_FRAC = 0.8  # share of links that stay on their host
DANGLING_FRAC = 0.1  # share of pages with no out-links
HOT_HUB_FRAC = 0.3  # share of linking pages that link to the hot hub
TEXT_TOKENS = (20, 60)  # words per page text, [low, high)


@dataclass
class WebGraph:
    urls: np.ndarray  # object array of url strings, index = page id
    src: np.ndarray  # int64 page ids, links in plan order
    dst: np.ndarray  # int64 page ids
    host_names: list[str]

    def edge_table(self) -> pa.Table:
        return pa.table(
            {
                "src": pa.array(self.urls[self.src], pa.string()),
                "dst": pa.array(self.urls[self.dst], pa.string()),
            }
        )


def _zipf_sizes(total: int, parts: int, exponent: float) -> np.ndarray:
    """Deterministic Zipf-shaped split of `total` into `parts` >= 1."""
    w = 1.0 / np.arange(1, parts + 1) ** exponent
    sizes = np.maximum(1, np.floor(w / w.sum() * total)).astype(np.int64)
    sizes[0] += total - sizes.sum()
    return sizes


def _power_law_pick(
    rng: np.random.Generator, k: int, size: int, exponent: float
) -> np.ndarray:
    """`size` draws from {0..k-1}, P(r) ∝ (r+1)^-exponent."""
    cdf = np.cumsum(1.0 / np.arange(1, k + 1) ** exponent)
    return np.searchsorted(cdf, rng.random(size) * cdf[-1], side="right")


def web_graph(
    seed: int,
    n_pages: int,
    n_edges: int,
    chains: int = 8,
    chain_len: int = 12,
) -> WebGraph:
    """Exactly `n_pages` pages and exactly `n_edges` links.

    Page 0 of every host is its hub, every linking page links to its
    hub once, HOT_HUB_FRAC of linking pages link to the global hot
    hub, and the rest of the link budget is spread over linking pages
    with a power-law out-degree; targets are power-law popular, within
    the host for LOCAL_FRAC of links. `chains` chains of `chain_len`
    pages hang off host hubs: hub -> c0 -> c1 -> ... with no other link
    touching a chain page, so they are the graph's longest paths."""
    rng = np.random.default_rng(seed)
    n_chain_pages = chains * chain_len
    n_regular = n_pages - n_chain_pages - 1  # minus the global hot hub
    host_sizes = _zipf_sizes(n_regular, N_HOSTS, 0.8)
    host_of = np.repeat(np.arange(N_HOSTS, dtype=np.int64), host_sizes)
    host_start = np.concatenate([[0], np.cumsum(host_sizes)[:-1]])
    host_names = [f"site{h:03d}.example.org" for h in range(N_HOSTS)]
    local_idx = np.arange(n_regular) - host_start[host_of]
    urls = [
        f"{host_names[h]}/index" if j == 0 else f"{host_names[h]}/p{j}"
        for h, j in zip(host_of.tolist(), local_idx.tolist())
    ]
    hot_hub = n_regular
    urls.append(HOT_HUB)
    chain_hosts = np.arange(chains, dtype=np.int64) % N_HOSTS
    for c in range(chains):
        h = int(chain_hosts[c])
        urls.extend(f"{host_names[h]}/list{c}-page{k}" for k in range(chain_len))
    urls_arr = np.array(urls, dtype=object)

    # linking pages: every regular non-hub page except a fixed-size
    # dangling sample
    non_hub = np.flatnonzero(local_idx != 0)
    n_dangling = int(round(DANGLING_FRAC * n_pages))
    dangling = rng.choice(non_hub, size=n_dangling, replace=False)
    linking = np.setdiff1d(np.arange(n_regular), dangling)
    linking = linking[local_idx[linking] != 0]
    hubs = host_start

    # fixed links: chains, page -> own hub, a fixed share -> hot hub
    chain_ids = n_regular + 1 + np.arange(n_chain_pages).reshape(chains, chain_len)
    fixed_src = [hubs[chain_hosts], chain_ids[:, :-1].ravel()]
    fixed_dst = [chain_ids[:, 0], chain_ids[:, 1:].ravel()]
    fixed_src.append(linking)
    fixed_dst.append(hubs[host_of[linking]])
    n_hot = int(round(HOT_HUB_FRAC * len(linking)))
    to_hot = rng.choice(linking, size=n_hot, replace=False)
    fixed_src.append(to_hot)
    fixed_dst.append(np.full(n_hot, hot_hub))
    n_fixed = sum(len(a) for a in fixed_src)
    budget = n_edges - n_fixed
    if budget < 0:
        raise ValueError(f"{n_edges} edges cannot hold {n_fixed} fixed links")

    # power-law out-degree over linking pages, rescaled to the exact budget
    raw = rng.pareto(2.0, size=len(linking)) + 1.0
    deg = np.floor(raw / raw.sum() * budget).astype(np.int64)
    short = budget - deg.sum()
    deg[rng.choice(len(linking), size=short, replace=False)] += 1
    src = np.repeat(linking, deg)

    # targets: popularity rank permuted per host (local) and globally
    is_local = rng.random(budget) < LOCAL_FRAC
    tgt = np.empty(budget, dtype=np.int64)
    hsrc = host_of[src[is_local]]
    size = host_sizes[hsrc]
    # local pick: power law over the host's pages through a seeded
    # per-host rank -> page permutation (a random offset rotation)
    r = _power_law_pick(rng, int(host_sizes.max()), int(is_local.sum()), 1.1)
    rot = rng.integers(0, 1 << 30, size=N_HOSTS)
    tgt[is_local] = host_start[hsrc] + (r + rot[hsrc]) % size
    popular = rng.permutation(n_regular)
    tgt[~is_local] = popular[
        _power_law_pick(rng, n_regular, int((~is_local).sum()), 1.1)
    ]
    # no self links: move them to the next page of the same host
    self_ = tgt == src
    h = host_of[src[self_]]
    tgt[self_] = host_start[h] + (tgt[self_] - host_start[h] + 1) % host_sizes[h]

    all_src = np.concatenate(fixed_src + [src]).astype(np.int64)
    all_dst = np.concatenate(fixed_dst + [tgt]).astype(np.int64)
    order = rng.permutation(len(all_src))
    return WebGraph(
        urls=urls_arr,
        src=all_src[order],
        dst=all_dst[order],
        host_names=host_names,
    )


def pages_table(seed: int, g: WebGraph) -> tuple[pa.Table, dict[str, str]]:
    """The `pages` table for web graph `g`: one row per page, html with
    an `<a href>` per planned out-link (plan order), plus text made of
    seeded vocabulary tokens. Returns (table, {url: text})."""
    rng = np.random.default_rng(seed + 1_000_003)
    n = len(g.urls)
    order = np.argsort(g.src, kind="stable")
    srcs, dsts = g.src[order], g.urls[g.dst[order]]
    bounds = np.searchsorted(srcs, np.arange(n + 1))
    vocab = np.array([f"w{i}" for i in range(4096)], dtype=object)
    lens = rng.integers(*TEXT_TOKENS, size=n)
    words = vocab[rng.integers(0, len(vocab), size=int(lens.sum()))]
    wb = np.concatenate([[0], np.cumsum(lens)])
    texts, htmls = [], []
    for i in range(n):
        text = " ".join(words[wb[i] : wb[i + 1]])
        links = "".join(
            f'<a class="l" href="{t}">{t}</a>\n' for t in dsts[bounds[i] : bounds[i + 1]]
        )
        htmls.append(
            f"<html><head><title>{g.urls[i]}</title></head><body>\n"
            f"<p>{text}</p>\n{links}</body></html>".encode()
        )
        texts.append(text)
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    ts = np.datetime64(base.replace(tzinfo=None), "us") + rng.integers(
        0, 86_400_000_000, size=n
    ).astype("timedelta64[us]")
    table = pa.table(
        {
            "url": pa.array(g.urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i % len(LANGS)] for i in range(n)], pa.string()),
        }
    )
    return table, dict(zip(g.urls.tolist(), texts))


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=8192)


def content_hash(path: str) -> str:
    """sha256 over a parquet file's decoded columns (independent of the
    writer's metadata), for determinism checks."""
    t = pq.read_table(path)
    h = hashlib.sha256()
    for name in t.column_names:
        h.update(name.encode())
        for chunk in t.column(name).combine_chunks().buffers():
            if chunk is not None:
                h.update(chunk)
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory for the parquet files")
    a = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [os.path.dirname(here), here]
    from workloads import WORKLOADS

    os.makedirs(a.out, exist_ok=True)
    WORKLOADS[a.workload]().generate(a.seed, a.out)
    for name in sorted(os.listdir(a.out)):
        if name.endswith(".parquet"):
            print(name, content_hash(os.path.join(a.out, name)))


if __name__ == "__main__":
    main()
