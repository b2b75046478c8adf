"""Knob inventory: the tuning surface is pinned here, so adding a crawl()
parameter or a ``CRAWLEY_*`` environment read takes a deliberate edit to
these lists (and a reason for it in review), never an unnoticed one."""

import inspect
import os
import re

from crawley_spark import engine

CRAWL_PARAMS = [
    "spark",
    "pages",
    "seeds",
    "config",
    "checkpoint_dir",
    "politeness_budget_ms",
    "max_iterations",
    "resume",
    "salt_k",
    "bloom_prefilter",
    "bloom_min_seen",
    "semi_broadcast_rows",
    "direct_broadcast_seen_rows",
    "compact_every",
    "frontier_cap",
    "driver_wave_rows",
    "driver_seen_cap",
]

ENV_KNOBS = {
    "CRAWLEY_BLOOM_BITS_PER_BUCKET",
    "CRAWLEY_CUCKOO_BUCKETS_PER_SHARD",
    "CRAWLEY_ICEBERG_CATALOG",
    "CRAWLEY_ICEBERG_NAMESPACE",
    "CRAWLEY_SEEN_BUCKETS",
    "CRAWLEY_SEEN_FILTER",
    "CRAWLEY_SEEN_METRICS",
}

# os.environ.get("X"), os.environ["X"], os.getenv("X"), "X" in os.environ
_ENV_READ = re.compile(
    r"""(?:environ\.get\(|environ\[|getenv\()\s*["'](CRAWLEY_\w+)["']"""
    r"""|["'](CRAWLEY_\w+)["']\s+in\s+(?:os\.)?environ"""
)


def test_crawl_parameters_pinned():
    assert list(inspect.signature(engine.crawl).parameters) == CRAWL_PARAMS


def test_env_knobs_pinned():
    pkg = os.path.dirname(engine.__file__)
    found = set()
    for root, _, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name), encoding="utf-8") as f:
                    for m in _ENV_READ.finditer(f.read()):
                        found.add(m.group(1) or m.group(2))
    assert found == ENV_KNOBS
