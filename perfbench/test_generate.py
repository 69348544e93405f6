"""Determinism of the benchmark's input generators.

    python3 -m pytest perfbench/test_generate.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import generate  # noqa: E402


def _hashes(tmp_path, seed: int) -> tuple[str, str]:
    tmp_path.mkdir()
    g = generate.web_graph(seed, 3_000, 30_000, chains=4, chain_len=6)
    edges = str(tmp_path / f"edges-{seed}.parquet")
    pages = str(tmp_path / f"pages-{seed}.parquet")
    generate.write_parquet(g.edge_table(), edges)
    generate.write_parquet(generate.pages_table(seed, g)[0], pages)
    return generate.content_hash(edges), generate.content_hash(pages)


def test_same_seed_same_content(tmp_path):
    assert _hashes(tmp_path / "a", 7) == _hashes(tmp_path / "b", 7)


def test_other_seed_other_content(tmp_path):
    a, b = _hashes(tmp_path / "a", 7), _hashes(tmp_path / "b", 8)
    assert a[0] != b[0] and a[1] != b[1]


def test_sizes_fixed_by_parameters():
    for seed in (1, 2):
        g = generate.web_graph(seed, 3_000, 30_000, chains=4, chain_len=6)
        assert len(g.urls) == 3_000 and len(g.src) == 30_000
        out = np.bincount(g.src, minlength=len(g.urls))
        # the sampled 10 %, plus hubs without chains, the hot hub and
        # chain tails
        assert 0.10 <= (out == 0).mean() <= 0.13
        assert not (g.src == g.dst).any()


def test_html_links_follow_the_plan():
    g = generate.web_graph(3, 500, 4_000, chains=2, chain_len=4)
    table, texts = generate.pages_table(3, g)
    html = table.column("html").to_pylist()
    hrefs = sum(h.count(b'href="') for h in html)
    assert hrefs == len(g.src)
    assert texts == dict(zip(table.column("url").to_pylist(),
                             table.column("text").to_pylist()))
