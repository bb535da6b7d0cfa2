"""The benchmark's crawl workloads: corpus shape, task and engine config.

Each workload is a pure function of its seed. The engine only ever
sees the generated corpus, the task, the robots table and the config
built here; the oracle sees the same corpus and task.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from crawler_spark.config import EngineConfig, RuleSpec, TaskConfig
from crawler_spark.sources.corpus import GENERIC_LINK_RE, GENERIC_RULE, generic_task

# link + item rule: the item field forces every page through the Arrow
# parse UDF (jvm_expressible rejects rules with item fields)
LINK_ITEM_RULE = RuleSpec(
    name="link",
    link_regex=GENERIC_LINK_RE,
    next_rule="link",
    item_fields=("title",),
    field_regexes={"title": r"<title>([^<]+)</title>"},
)


# both workloads: 2k-URL rounds, 3 rounds a crawl (round 1 untimed),
# 16 hosts in the generated web graph
BATCH = 2_000
ROUNDS = 3
N_HOSTS = 16


def robots_rules() -> list[tuple[str, str, bool]]:
    """(host, path_prefix, allow) rules: every third host disallows
    ``/p/1`` but re-allows the longer ``/p/12``, so the longest-prefix
    fold decides both ways."""
    rules = []
    for h in range(1, N_HOSTS, 3):
        host = f"www.site{h:04d}.example"
        rules += [(host, "/p/1", False), (host, "/p/12", True)]
    return rules


@dataclass(frozen=True)
class Shape:
    name: str
    pages: int
    filler_kb: int = 0
    rule: RuleSpec = GENERIC_RULE
    # per-(task, host) fetch budget per round; 0 = unlimited
    host_budget: int = 0
    with_robots: bool = False
    record_order: bool = False
    engine: dict = field(default_factory=dict)

    def task(self, seed: int) -> TaskConfig:
        # generic_task's budget window (60 s) equals round_seconds: the
        # per-round host budget is exactly host_budget
        return replace(
            generic_task(max_depth=64, budget_count=self.host_budget, n_seeds=BATCH,
                         seed=seed, n_hosts=N_HOSTS),
            rules=(self.rule,),
        )

    def robots(self) -> list[tuple[str, str, bool]] | None:
        return robots_rules() if self.with_robots else None

    def config(self, cores: int) -> EngineConfig:
        return EngineConfig(
            batch_size=BATCH, num_partitions=cores, checkpoint_every=0, **self.engine
        )


SHAPES = {
    s.name: s
    for s in (
        Shape(
            name="seen_deep",
            pages=24_000,
            # bloom_min_seen=1: the filter engages as soon as a seen set
            # exists (round 2); eager_probe_min_batch=1: the probe runs as
            # its own eligible:probe job, the path large batches take;
            # compaction fires once more than one loose round is unrun
            engine=dict(bloom_min_seen=1, eager_probe_min_batch=1,
                        seen_compact_every=2, seen_compact_waves=2),
        ),
        Shape(
            name="extract_polite",
            pages=8_000,
            filler_kb=8,
            rule=LINK_ITEM_RULE,
            host_budget=300,
            with_robots=True,
            record_order=True,
        ),
    )
}
