"""Workload ``frontier_wave``: repeated politeness-budgeted, deduplicated
crawl waves over a synthetic candidate frontier.

One closed-loop client runs one wave after another. A wave is the
frontier hot path of the crawl loop: canonicalize + hash the candidates
(Arrow UDF, persisted) → bloom-prefiltered exact dedup against the
seen-set → salted per-domain politeness scheduling → driver-side delta
bloom merged into the cumulative filter. No fetch, extraction or state
store runs inside a wave.

Inputs (all derived from the seed): candidate ids ``base .. base+n-1``
with a seeded ``base``; position ``j = id - base``. Every even ``j`` is
already in the seen-set; every ``j % 4 == 1`` lands on one seeded hot
domain (25% of the frontier); the rest spread over 1,759 domains by
``id % 1759``. URLs are deliberately non-canonical (uppercase scheme and
host, a fragment).

Set-up (repeated, median reported): the seen-set is generated and
persisted, and the cumulative bloom filter is built from it.

A wave's cost is its CPU seconds summed over the driver, the JVM and the
Python workers (``harness.Meter``); its wall time is reported alongside.
"""

from __future__ import annotations

import random
import time
from contextlib import nullcontext
from dataclasses import dataclass
from types import SimpleNamespace

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import functions as F

from searchgov_spider_spark.functions.urls import url_hash_col, url_host_col, with_canonical
from searchgov_spider_spark.operators.dedup import (
    ShardedBloom,
    build_bloom,
    build_bloom_from_hashes,
    dedupe_against_seen,
)
from searchgov_spider_spark.operators.politeness import schedule_wave

from .harness import Meter, median
from .outcome import Outcome
from .trace import AUX, OP

N_DOMAINS = 1759  # search.gov production seed-list size
N_CANDIDATES = 200_000
BUDGET = 400  # URLs per domain per wave
SALT_BUCKETS = 16
BLOOM_FPP = 0.02
SETUP_REPEATS = 3
# The first waves in a fresh JVM and Python-worker pool cost more than the
# rest (200k candidates on 4 cores, CPU seconds: 37.9, 19.0, then 11-14),
# so WARMUP_WAVES run untimed (but checked), and at least MIN_WAVES waves
# are timed after them. A smaller warm-up wave is no cheaper: 50k
# candidates cost 31 and 15 CPU seconds, and left the next 200k wave at 17.
# A third warm-up wave did not make runs agree better (the spread between
# runs comes from the host) and cost 5 s per run.
WARMUP_WAVES = 2
MIN_WAVES = 3


@dataclass(frozen=True)
class FrontierInputs:
    n: int
    base: int  # first candidate id
    hot: int  # the hot domain's number

    @classmethod
    def from_seed(cls, seed: int, n: int = N_CANDIDATES) -> "FrontierInputs":
        rng = random.Random(seed)
        return cls(n=n, base=rng.randrange(1 << 20, 1 << 40), hot=rng.randrange(N_DOMAINS))

    def _domain(self, ids):
        return F.when((ids - self.base) % 4 == 1, F.lit(self.hot)).otherwise(ids % N_DOMAINS)

    def candidates(self, spark):
        """The wave's raw candidate rows (lazy; regenerated every wave)."""
        ids = F.col("id")
        raw = F.concat(
            F.lit("HTTPS://D"), self._domain(ids).cast("string"), F.lit(".GOV/p/"),
            ids.cast("string"), F.lit("#frag"),
        )
        return spark.range(self.base, self.base + self.n).select(
            raw.alias("url"),
            (ids % 5).alias("priority"),
            (ids % 4).alias("depth"),
            ids.alias("discovery_idx"),
        )

    def seen(self, spark):
        """Half the frontier (even positions), already canonical."""
        ids = F.col("id")
        canon = F.concat(
            F.lit("https://d"), self._domain(ids).cast("string"), F.lit(".gov/p/"), ids.cast("string")
        )
        return (
            spark.range(self.base, self.base + self.n, 2)
            .select(canon.alias("canon_url"))
            .withColumn("url_hash", url_hash_col("canon_url"))
        )

    def expected_scheduled(self, budget: int = BUDGET) -> dict[str, int]:
        """Closed form of a wave's schedule: per domain, min(fresh, budget).
        Fresh rows are the odd positions: ``j % 4 == 1`` on the hot domain,
        ``j % 4 == 3`` on domain ``id % 1759``."""
        fresh = np.bincount(
            (self.base + np.arange(3, self.n, 4, dtype=np.int64)) % N_DOMAINS, minlength=N_DOMAINS
        )
        fresh[self.hot] += len(range(1, self.n, 4))
        return {f"d{d}.gov": int(min(c, budget)) for d, c in enumerate(fresh) if c}


def raw_layers() -> SimpleNamespace:
    return SimpleNamespace(
        with_canonical=with_canonical,
        dedupe_against_seen=dedupe_against_seen,
        schedule_wave=schedule_wave,
        build_bloom=build_bloom,
        build_bloom_from_hashes=build_bloom_from_hashes,
        merge=ShardedBloom.merge,
    )


def traced_layers(tracer, inputs: FrontierInputs) -> SimpleNamespace:
    def bloom_stats(sp, _out, args, _kwargs):
        cand, _seen, bloom = args[:3]
        tbl = cand.select("discovery_idx", "url_hash").toArrow()
        idx = tbl.column("discovery_idx").to_numpy(zero_copy_only=False)
        flagged = bloom.contains(tbl.column("url_hash").to_numpy(zero_copy_only=False))
        in_seen = (idx - inputs.base) % 2 == 0
        sp.attrs.update(
            bloom_candidates=len(idx),
            bloom_flagged=int(flagged.sum()),
            bloom_false_positives=int((flagged & ~in_seen).sum()),
        )

    raw = raw_layers()
    w = tracer.wrap
    return SimpleNamespace(
        with_canonical=w("functions.urls.with_canonical", raw.with_canonical),
        dedupe_against_seen=w("operators.dedup.dedupe_against_seen", raw.dedupe_against_seen, after=bloom_stats),
        schedule_wave=w("operators.politeness.schedule_wave", raw.schedule_wave),
        build_bloom=w("operators.dedup.build_bloom", raw.build_bloom, materialize=False),
        build_bloom_from_hashes=w(
            "operators.dedup.build_bloom_from_hashes", raw.build_bloom_from_hashes, materialize=False
        ),
        merge=w("operators.dedup.ShardedBloom.merge", raw.merge, materialize=False),
    )


def copy_bloom(bloom: ShardedBloom) -> ShardedBloom:
    return ShardedBloom(bloom.spec, {k: v.copy() for k, v in bloom.shards.items()})


@dataclass
class Wave:
    seconds: float
    cpu_s: float
    phases: dict
    n_scheduled: int
    scheduled: object  # persisted DataFrame

    def release(self):
        self.scheduled.unpersist()


def run_wave(spark, inputs: FrontierInputs, seen, bloom: ShardedBloom, L) -> Wave:
    """One timed wave (ported from the repository's original wave bench).
    The cumulative bloom passed in is left untouched: the delta merges into
    a copy made before the clock starts, so every wave does the same work."""
    bloom = copy_bloom(bloom)
    meter = Meter()
    t0 = time.perf_counter()
    cand = (
        L.with_canonical(inputs.candidates(spark), "url", "canon_url", rescan_cheap=True)
        .select("url", "canon_url", "priority", "depth", "discovery_idx")
        .withColumn("url_hash", url_hash_col("canon_url"))
        .withColumn("domain", url_host_col("canon_url"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand.count()
    t1 = time.perf_counter()
    fresh = L.dedupe_against_seen(cand, seen, bloom)
    scheduled, _deferred = L.schedule_wave(fresh, budget=BUDGET, salt_buckets=SALT_BUCKETS)
    scheduled = scheduled.persist(StorageLevel.MEMORY_AND_DISK)
    hashes = scheduled.select("url_hash").toArrow()
    t2 = time.perf_counter()
    delta = L.build_bloom_from_hashes(hashes.column("url_hash").to_numpy(zero_copy_only=False), bloom.spec)
    L.merge(bloom, delta)
    t3 = time.perf_counter()
    cost = meter.read()
    cand.unpersist()
    return Wave(
        seconds=t3 - t0,
        cpu_s=cost.cpu_s,
        phases={"canonicalize_s": t1 - t0, "dedup_schedule_s": t2 - t1, "bloom_delta_s": t3 - t2},
        n_scheduled=hashes.num_rows,
        scheduled=scheduled,
    )


def wave_problems(inputs: FrontierInputs, per_domain: dict[str, int], n_scheduled: int, n_in_seen: int) -> list[str]:
    """Every way a wave's schedule can be wrong, as messages (empty = correct)."""
    problems = []
    if n_in_seen:
        problems.append(f"{n_in_seen} scheduled URLs are in the seen-set")
    over = {d: c for d, c in per_domain.items() if c > BUDGET}
    if over:
        problems.append(f"{len(over)} domains over the budget of {BUDGET}")
    expected = inputs.expected_scheduled()
    if sum(per_domain.values()) != n_scheduled:
        problems.append("per-domain counts do not add up to the scheduled count")
    if n_scheduled != sum(expected.values()):
        problems.append(f"scheduled {n_scheduled}, closed form says {sum(expected.values())}")
    elif per_domain != expected:
        problems.append("per-domain schedule differs from the closed form")
    return problems


def check_wave(inputs: FrontierInputs, wave: Wave, seen) -> list[str]:
    sched = wave.scheduled
    per_domain = {r["domain"]: r["count"] for r in sched.groupBy("domain").count().collect()}
    n_in_seen = sched.join(seen.select("canon_url"), "canon_url", "left_semi").count()
    return wave_problems(inputs, per_domain, wave.n_scheduled, n_in_seen)


def build_state(spark, inputs: FrontierInputs, L):
    """Set-up: persist the seen-set and build the cumulative bloom filter.
    Returns (seen, bloom)."""
    seen = inputs.seen(spark).persist(StorageLevel.MEMORY_AND_DISK)
    seen.count()
    bloom = L.build_bloom(seen, capacity=max(2 * inputs.n, 1 << 20), fpp=BLOOM_FPP)
    return seen, bloom


def run(spark, seed: int, seconds: float, tracer=None, n: int = N_CANDIDATES) -> Outcome:
    """After checked warm-up waves: untraced, time waves for ``seconds``
    (at least MIN_WAVES); traced, alternate untraced and traced waves (at
    least MIN_WAVES of each) and report both medians, so the overhead
    compares the same code, inputs and JVM at the same point of its
    warm-up."""
    inputs = FrontierInputs.from_seed(seed, n)
    out = Outcome()
    raw = raw_layers()
    L = traced_layers(tracer, inputs) if tracer else raw

    setups = []
    seen = None
    for _ in range(SETUP_REPEATS):
        if seen is not None:
            seen.unpersist()
        meter = Meter()
        seen, bloom = build_state(spark, inputs, L)
        setups.append(meter.read())
    out.setup_cpu_s = median([c.cpu_s for c in setups])

    def checked(wave: Wave) -> Wave:
        with tracer.span(AUX) if tracer else nullcontext():
            out.record(check_wave(inputs, wave, seen))
        wave.release()
        return wave

    for _ in range(WARMUP_WAVES):
        checked(run_wave(spark, inputs, seen, bloom, raw))
    waves, untraced = [], []
    t_end = time.perf_counter() + seconds
    while len(waves) < MIN_WAVES or time.perf_counter() < t_end:
        if tracer is not None:
            untraced.append(checked(run_wave(spark, inputs, seen, bloom, raw)))
        with tracer.span(OP) if tracer else nullcontext():
            wave = run_wave(spark, inputs, seen, bloom, L)
        waves.append(checked(wave))
        if tracer:
            tracer.release()
    seen.unpersist()

    times = [w.seconds for w in waves]
    if tracer is not None:
        out.overhead(median([w.seconds for w in untraced]), median(times))
        return out
    cpu = [w.cpu_s for w in waves]
    out.e2e = {"op_cpu_s": median(cpu), "urls_per_cpu_s": median([inputs.n / c for c in cpu])}
    out.notes.append(
        f"{len(waves)} waves of {inputs.n} candidates: CPU {[round(c, 2) for c in cpu]} s, "
        f"wall {[round(t, 3) for t in times]} s (wave_s median {median(times):.3f} s, "
        f"frontier_urls_per_s median {median([inputs.n / t for t in times]):.0f})"
    )
    out.notes.append(
        f"set-ups: CPU {[round(c.cpu_s, 2) for c in setups]} s, wall {[round(c.wall_s, 3) for c in setups]} s"
    )
    for k in waves[0].phases:
        out.notes.append(f"wave phase {k}: median {median([w.phases[k] for w in waves]):.3f} s wall")
    return out
