"""Per-host politeness scheduler + deterministic crawl ordering.

The reference has no politeness — its throttle is a global task_limit
(src/cli.rs:41-42). The north rule requires a per-host politeness queue with
robots.txt crawl-delay enforcement and a salted priority-queue frontier. This
module defines the engine's *crawl-ordering spec* (SURVEY.md §7):

    order = (wave, host, slot, url), slot = row_number per host over
    (priority DESC, url ASC), capped at the host's per-wave budget;
    over-budget URLs are deferred to the next wave's frontier.

The Python oracle implements the identical rule, making "matching crawl
ordering" testable.

Scale notes: the window per host is the classic skew hazard (a hot host with
10^7 frontier URLs lands on one task). ``rank_frontier`` therefore pre-trims
each host partition with a cheap salted partial top-k (group by
(host, salt) -> local top-budget) before the exact per-host window, bounding
the exact window's input to salt_buckets * budget rows per host; the trimmed
rows stay in their salt partitions. AQE skew-join handles the residual. The
ranked frame keeps every frontier row, so ``scheduled`` and ``deferred`` are
two filters of it: no anti-join splits them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CRAWL_DELAY = 1


def _robots_frame(pages: DataFrame) -> DataFrame:
    """(host, text) robots bodies from the corpus /robots.txt rows."""
    return (
        pages.filter(F.col("url").endswith("/robots.txt"))
        .select(
            F.regexp_extract(F.col("url"), r"^https?://([^/]+)/robots\.txt$", 1).alias("host"),
            F.col("text"),
        )
        .filter(F.col("host") != "")
    )


def parse_robots_crawl_delay(pages: DataFrame, user_agent: str = "*") -> DataFrame:
    """robots cache: (host, crawl_delay) from corpus /robots.txt rows. The
    result is tiny (one row per host with a robots body) and broadcast into
    the scheduler.

    CONTRACT (group-scoped since round 4): Crawl-delay binds to the RFC 9309
    group selected for our agent — groups naming ``user_agent`` when any
    exist, else the ``*`` groups (§2.2.1 specificity, same walk as
    parse_robots_rules). Among the selected groups the FIRST Crawl-delay
    line in file order wins (min(idx) — order-independent under shuffle).
    Groupless lines, other agents' groups, and hosts whose selected groups
    carry no Crawl-delay all fall back to DEFAULT_CRAWL_DELAY. Crawl-delay
    is a non-RFC extension and engines disagree on its scoping; the
    dominant group-scoped interpretation is pinned here and mirrored by
    both oracles (pyoracle._crawl_delays, crawl_robots_delay SQL)."""
    robots = _robots_frame(pages)
    tagged = _tag_robots_lines(robots)
    groups = _matching_groups(tagged, user_agent)
    delays = (
        tagged.filter(F.col("rule_type") == "delay")
        .join(F.broadcast(groups), ["host", "group_id"], "left_semi")
        .groupBy("host")
        .agg(F.min(F.struct("idx", "delay_s")).alias("w"))
        .select("host", F.col("w.delay_s").alias("crawl_delay"))
    )
    return (
        robots.select("host")
        .distinct()
        .join(F.broadcast(delays), "host", "left")
        .withColumn(
            "crawl_delay", F.coalesce(F.col("crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY))
        )
    )


def parse_robots_disallow(pages: DataFrame, user_agent: str = "*") -> DataFrame:
    """robots cache, Disallow side: (host, prefix) rows from the
    ``Disallow:`` lines of the corpus /robots.txt pages that bind to OUR
    agent — delegated to ``parse_robots_rules`` so the crawl's enforcement
    path shares the one RFC 9309 group-scoped parser (other bots' groups and
    groupless rules never gate our frontier). Result is tiny and broadcast
    into the frontier filter; the Python oracle twin implements the same
    group walk (pyoracle._robots_groups)."""
    return (
        parse_robots_rules(_robots_frame(pages), user_agent=user_agent)
        .filter(F.col("rule_type") == "disallow")
        .select("host", "prefix")
    )


def url_path(url) -> "F.Column":
    """Path component of a canonical url ('' when absent)."""
    return F.regexp_extract(url, r"^https?://[^/?#]+([^?#]*)", 1)


def parse_robots_rules(robots: DataFrame, user_agent: str = "*") -> DataFrame:
    """Full rule parse of robots bodies with RFC 9309 group selection:
    (host, rule_type, prefix) from the ``Allow:`` / ``Disallow:`` lines of
    the groups whose ``User-agent:`` matches ``user_agent`` (or ``*``).

    Group semantics per the spec: a group starts at a ``User-agent`` line
    whose predecessor is NOT a ``User-agent`` line (consecutive UA lines
    share one group); rules bind to their group; rules before any UA line
    belong to no group and are ignored; rules in groups scoped to OTHER
    agents do not apply. Specificity per RFC 9309 §2.2.1: when any group
    names OUR agent, only those groups apply and the ``*`` groups are
    IGNORED for that host; ``*`` groups apply only as the fallback when no
    specific group exists. Empty-prefix lines (a bare ``Disallow:`` =
    allow-all) carry no rule and are dropped. [ \\t]* (not \\s*) so
    whitespace can't cross the line boundary.

    Shape: one posexplode + one per-host window (robots bodies are KB-sized
    and the robots frame is per-host tiny — this entire parse runs on the
    broadcast side of the decision join)."""
    tagged = _tag_robots_lines(robots)
    matching_groups = _matching_groups(tagged, user_agent)
    return (
        tagged.filter(F.col("rule_type").isin("allow", "disallow") & (F.col("host") != ""))
        # matching_groups is bounded by (#hosts x #groups-per-file) — always
        # broadcastable; without the hint the unknown-size agg can plan SMJ
        .join(F.broadcast(matching_groups), ["host", "group_id"], "left_semi")
        .select("host", "rule_type", "prefix")
        .distinct()
    )


def _tag_robots_lines(robots: DataFrame) -> DataFrame:
    """Shared robots line tagger: (host, idx, ua, rule_type, prefix, delay_s,
    group_id) rows from (host, text) bodies. rule_type is 'allow' /
    'disallow' / 'delay' / NULL; group_id numbers the RFC 9309 groups per
    host (cumulative count of group-starting User-agent lines, so rules
    before any UA line get group_id 0 — no group ever matches it).

    Determinism guard: a host can contribute several robots bodies (http +
    https twins, duplicate corpus rows) whose exploded lines would interleave
    with nondeterministic idx tie order. At most one body may bind per host,
    chosen as min(text) — deterministic under any row order, and a no-op for
    the common exact-duplicate case."""
    robots = robots.groupBy("host").agg(F.min("text").alias("text"))
    lines = robots.select(
        "host", F.posexplode(F.split(F.col("text"), "\n")).alias("idx", "line")
    )
    ua_val = F.regexp_extract(F.col("line"), r"^User-agent:[ \t]*(\S+)", 1)
    allow_p = F.regexp_extract(F.col("line"), r"^Allow:[ \t]*(\S+)", 1)
    dis_p = F.regexp_extract(F.col("line"), r"^Disallow:[ \t]*(\S+)", 1)
    delay_v = F.regexp_extract(F.col("line"), r"^Crawl-delay:[ \t]*(\d+)", 1)
    wcum = (
        Window.partitionBy("host")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_ua = ua_val != ""
    prev_is_ua = F.lag(is_ua, 1, False).over(Window.partitionBy("host").orderBy("idx"))
    return lines.select(
        "host",
        "idx",
        ua_val.alias("ua"),
        F.when(allow_p != "", F.lit("allow"))
        .when(dis_p != "", F.lit("disallow"))
        .when(delay_v != "", F.lit("delay"))
        .alias("rule_type"),
        F.when(allow_p != "", allow_p).otherwise(dis_p).alias("prefix"),
        F.when(delay_v != "", delay_v.cast("int")).alias("delay_s"),
        F.sum((is_ua & ~prev_is_ua).cast("int")).over(wcum).alias("group_id"),
    )


def _matching_groups(tagged: DataFrame, user_agent: str) -> DataFrame:
    """(host, group_id) of the groups that bind to ``user_agent`` under RFC
    9309 §2.2.1 specificity: a host with ANY group naming our agent drops its
    '*' groups (most specific wins, no union); '*' is the fallback only."""
    is_specific = F.lower(F.col("ua")) == user_agent.lower()
    candidates = tagged.filter(is_specific | (F.col("ua") == "*")).select(
        "host", "group_id", is_specific.alias("specific")
    )
    host_any = Window.partitionBy("host")
    return (
        candidates.withColumn(
            "_has_specific", F.max(F.col("specific").cast("int")).over(host_any)
        )
        .filter(F.col("specific") | (F.col("_has_specific") == 0))
        .select("host", "group_id")
        .distinct()
    )


def _rule_pattern() -> tuple["F.Column", "F.Column"]:
    """(anchored_regex, is_wildcard) for the ``prefix`` column of a robots
    rule, per the Google spec: ``*`` matches any char sequence, trailing
    ``$`` anchors the end, everything else is literal. Pure Catalyst string
    ops — translated ONCE per rule on the (tiny) broadcast side."""
    ends_dollar = F.col("prefix").endswith("$")
    body = F.when(
        ends_dollar, F.expr("substring(prefix, 1, length(prefix) - 1)")
    ).otherwise(F.col("prefix"))
    # escape every regex metachar EXCEPT '*', then '*' -> '.*'
    esc = F.regexp_replace(body, r"([.^$+?(){}\[\]|\\])", r"\\$1")
    pattern = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(ends_dollar, F.lit("$")).otherwise(F.lit("")),
    )
    return pattern, F.col("prefix").contains("*") | ends_dollar


def filter_disallowed(frontier: DataFrame, disallow: DataFrame) -> DataFrame:
    """Frontier minus robots-disallowed URLs: a broadcast LEFT ANTI join on
    (same host AND rule matches path) — the disallow table is per-host tiny,
    the frontier is never shuffled.

    Rule semantics per the Google robots spec: a plain rule is a path
    PREFIX (fast startswith path); wildcard rules are matched with RLIKE as
    the join residual (see _rule_pattern)."""
    pattern, wild = _rule_pattern()
    d = F.broadcast(
        disallow.select(
            F.col("host").alias("d_host"),
            F.col("prefix").alias("d_prefix"),
            wild.alias("d_wild"),
            pattern.alias("d_pattern"),
        )
    )
    fr = frontier.withColumn("_path", url_path(F.col("url")))
    cond = (F.col("host") == F.col("d_host")) & F.when(
        F.col("d_wild"), F.expr("_path RLIKE d_pattern")
    ).otherwise(F.startswith(F.col("_path"), F.col("d_prefix")))
    return fr.join(d, cond, "left_anti").drop("_path")


def rank_frontier(
    frontier: DataFrame,
    robots: DataFrame | None,
    host_budget: int | None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Every frontier row with its politeness rank: the frontier's columns
    plus ``slot`` (1-based within host over (priority DESC, url ASC)) and
    ``_budget`` (``max(1, host_budget // crawl_delay)``; NULL with no
    budget). A row is scheduled when ``is_scheduled()``; the rows the salted
    pre-trim drops cannot be, and carry a NULL ``slot``.

    ``host_budget None`` -> no cap: every row has its slot (slots still
    define the deterministic order).
    """
    order = (F.desc("priority"), F.asc("url"))

    if host_budget is None:
        w_host = Window.partitionBy("host").orderBy(*order)
        return frontier.withColumn(
            "slot", F.row_number().over(w_host).cast("int")
        ).withColumn("_budget", F.lit(None).cast("int"))

    # salted partial top-k: local rank within (host, salt) can only be <= the
    # exact per-host rank, so keeping local_rank <= budget is a safe superset.
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
    w_salt = Window.partitionBy("host", salt).orderBy(*order)

    if robots is not None:
        frontier = frontier.join(F.broadcast(robots), on="host", how="left")
        budget = F.greatest(
            F.lit(1),
            (F.lit(host_budget) / F.coalesce(F.col("crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY))).cast("int"),
        )
    else:
        budget = F.lit(host_budget)

    # the survivors share one exact per-host window partition (_part -1);
    # the trimmed rows stay spread over their salt buckets and get no slot
    pre = frontier.withColumn("_budget", budget).withColumn(
        "_part",
        F.when(F.row_number().over(w_salt) <= F.col("_budget"), F.lit(-1)).otherwise(salt),
    )
    w_exact = Window.partitionBy("host", "_part").orderBy(*order)
    slot = F.when(F.col("_part") == -1, F.row_number().over(w_exact))
    return pre.withColumn("slot", slot.cast("int")).drop("_part", "crawl_delay")


def is_scheduled() -> Column:
    """Over ``rank_frontier`` rows: the row's slot is within its host's
    budget (every ranked row, with no budget)."""
    return F.coalesce(
        F.col("_budget").isNull() | (F.col("slot") <= F.col("_budget")), F.lit(False)
    )


def split_ranked(ranked: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(scheduled, deferred) as two filters of one ``rank_frontier`` frame:
    scheduled rows keep their ``slot``, deferred rows have the frontier's
    columns only."""
    due = is_scheduled()
    frontier_cols = [c for c in ranked.columns if c not in ("slot", "_budget")]
    return ranked.filter(due).drop("_budget"), ranked.filter(~due).select(*frontier_cols)


def schedule_wave(
    frontier: DataFrame,
    robots: DataFrame | None,
    host_budget: int | None,
    salt_buckets: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Assign per-host slots; split (scheduled, deferred).

    * scheduled rows gain ``slot`` (1-based within host) and respect
      ``effective_budget = max(1, host_budget // crawl_delay)``;
    * deferred rows (over budget) are returned unchanged for re-enqueue.

    ``host_budget None`` -> no cap: everything is scheduled (slots still
    assigned — they define the deterministic order), nothing deferred.
    Both are filters of ``rank_frontier``'s one ranked frame, so a caller
    that caches that frame (plans/wave.py) reads the frontier once.
    """
    return split_ranked(rank_frontier(frontier, robots, host_budget, salt_buckets))
