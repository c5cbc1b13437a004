"""Crawl configuration (the reference's CLI surface, src/cli.rs:10-43,
re-expressed as a config object for the Spark driver)."""

from __future__ import annotations

from dataclasses import dataclass, field

# Rows above which a wave-side DataFrame (frontier / matched urls / extracted
# children) is NOT broadcast: at ~100 bytes per URL, 1M rows is ~100 MB of
# broadcast state — near the safe ceiling for driver collect + per-executor
# replication. Above it the operators fall back to a shuffle join (see
# operators/fetch.py and operators/routing.py docstrings);
# with host_budget set the broadcast side is provably <= hosts * budget, so
# the fallback only triggers for unbudgeted crawls with huge wave out-degree.
BROADCAST_MAX_ROWS = 1_000_000


def small_enough_to_broadcast(rows: int | None) -> bool:
    """None (size unknown at plan time) defaults to broadcast — callers pass
    the previous wave's manifest count so this is None only on wave 0 seeds
    and in unit tests, both tiny by construction."""
    return rows is None or rows <= BROADCAST_MAX_ROWS


# Rows up to which a wave subtracts a set it already knows (the cumulative
# seen or rejected urls) with ONE left-anti join against a broadcast of the
# whole set (operators/routing.subtract_known), rather than scanning the set
# against a broadcast of the wave's children (anti_join_scan). The broadcast
# side is collected through the driver, so its cost grows with the set, while
# the scan is parallel. Measured on 4 cores (local[4]), the subtraction of
# 5k and of 50k children (half of them known) from a seen set stored as 8
# wave files, median of 5: one broadcast 0.47 / 0.34 s vs the scan 0.53 /
# 0.45 s at 100k rows; 0.53 / 0.43 vs 0.45 / 0.44 s at 150k; 0.65 / 0.57 vs
# 0.51 / 0.46 s at 300k; 1.38 / 1.41 vs 0.57 / 0.67 s at 1M. Never above
# BROADCAST_MAX_ROWS.
KNOWN_SET_BROADCAST_MAX_ROWS = 100_000


def broadcast_known_set(rows: int) -> bool:
    """A known set of ``rows`` rows (an exact manifest count) is subtracted
    with one broadcast of it (see KNOWN_SET_BROADCAST_MAX_ROWS)."""
    return rows <= min(BROADCAST_MAX_ROWS, KNOWN_SET_BROADCAST_MAX_ROWS)


@dataclass
class CrawlConfig:
    """Parameters of one crawl run.

    * ``depth`` — number of BFS waves; ``None`` = run to frontier exhaustion
      with sitemap seeding on the first wave (reference crawl_no_depth,
      src/crawler.rs:113-195). Like the reference, a depth-bounded crawl does
      NOT consult sitemaps (crawler.rs:32-109).
    * ``whitelist`` / ``blacklist`` — host policy (links.rs:122-143). With
      BOTH unset, should_crawl is always false (the reference's quirk at
      links.rs:133): only the seed is ever fetched.
    * ``words`` — case-sensitive raw-html word scan (links.rs:285-290).
    * ``host_budget`` — per-host fetch cap per wave (politeness scheduler;
      our north-rule extension — the reference has no politeness). ``None``
      disables the cap, matching raw reference semantics. When robots.txt
      Crawl-delay is cached for a host, its effective budget is
      ``max(1, host_budget // crawl_delay)``.
    * ``n_buckets`` — url_hash bucket count of the seen filter's sidecar.
    * ``timeout_ms`` — request-timeout simulation (reference cli.rs:34-35,
      default 10 s): matched pages whose synthetic latency exceeds this are
      fetch failures (op 27). ``None`` (default) disables the gate so fetch
      success == corpus membership.
    """

    whitelist: list[str] | None = None
    blacklist: list[str] | None = None
    words: list[str] = field(default_factory=list)
    depth: int | None = 1
    host_budget: int | None = None
    n_buckets: int = 32
    # which sketch prefilters the seen anti-join: a kind of
    # operators/bloom.SEEN_FILTERS — "bloom" (default) or "cuckoo" (deletable
    # fingerprints, the recrawl/TTL-expiry story, operators/cuckoo.py) — or
    # "none" (exact anti-join only, no sidecar). A kind keeps a sidecar only
    # above the probe gate (seen_probe). Resuming with another kind than the
    # warehouse was written with is allowed: the first resumed wave above
    # the gate rebuilds the sidecar from the seen view
    seen_filter: str = "bloom"
    # how the wave PROBES the seen filter: "broadcast" ships the whole merged
    # filter to every executor (cheap at sandbox scale); "sharded" writes the
    # sidecar as one file per pmod(url_hash, n_buckets) bucket and each probe
    # task loads only its own bucket's file (operators/sharded_probe.py) —
    # the 10^10-URL form, where the merged filter (~20 GB at 16-bit cuckoo
    # fingerprints) is too big to broadcast or hold per executor. Neither
    # mode probes while the cumulative seen set is at most
    # BROADCAST_MAX_ROWS: the wave then runs the exact anti-join alone, and
    # only a wave whose seen set after it exceeds the gate keeps a sidecar
    seen_probe: str = "broadcast"
    timeout_ms: int | None = None
    # enforce robots.txt Disallow rules: frontier URLs whose path starts with
    # a disallowed prefix for their host are never scheduled (north-rule
    # politeness extension; the reference ignores Disallow entirely)
    respect_disallow: bool = False
    # opt-in crawler-trap gate: frontier URLs flagged by
    # operators/traps.url_trap_flags (segment loops, calendar lattices,
    # session-id params, param explosions, over-deep paths) are dropped
    # before scheduling/fetch; default off preserves reference parity
    trap_filter: bool = False
    # opt-in: canonicalize frontier URLs by stripping tracking query params
    # (utm_*/fbclid/gclid/... — functions/urlnorm.strip_tracking_params_col)
    # at extraction time AND on the seeds, so ?utm_source variants of one
    # page collapse to one frontier entry / one fetch / one seen row;
    # default off preserves reference parity (the reference keeps URLs as
    # extracted)
    strip_tracking: bool = False
    # opt-in: no-depth mode's wave-0 sitemap discovery also parses XML
    # sitemaps (urlset + one-level sitemapindex recursion) — the real-web
    # format; default off preserves reference parity (text/plain only,
    # crawler.rs:294-300) so default-path goldens never move
    sitemap_xml: bool = False
    child_priority: float = 0.0
    # "join" = corpus equi-join simulation (the default, driver design brief);
    # "http" = real mapInPandas HTTP fetch (operators/httpfetch.py) with the
    # same downstream contract — e2e parity-tested against a fixture server
    fetch_mode: str = "join"
    # http mode only: test-fixture base url (requests route to
    # {http_base}/{host}{path}; None = fetch urls as-is) and the per-host
    # in-flight connection cap enforced within each host's partition
    http_base: str | None = None
    http_max_per_host: int = 4

    def seen_filter_kind(self) -> str | None:
        """Validated seen-set prefilter: a ``SEEN_FILTERS`` kind, or None for
        "none". A typo raises rather than running unprefiltered."""
        from .operators.bloom import SEEN_FILTERS

        if self.seen_filter == "none":
            return None
        if self.seen_filter not in SEEN_FILTERS:
            raise ValueError(f"unknown seen_filter: {self.seen_filter!r}")
        return self.seen_filter

    def seen_probe_mode(self) -> str:
        """Validated probe mode; 'sharded' only matters with a live filter
        (seen_filter_kind() not None) but a typo must raise regardless."""
        if self.seen_probe not in ("broadcast", "sharded"):
            raise ValueError(f"unknown seen_probe: {self.seen_probe!r}")
        return self.seen_probe
