"""robots.txt parsing + longest-match verdicts (RFC 9309 subset)."""

from pyspark.sql import functions as F

from closure_html_spark.spark import relational as R
from closure_html_spark.spark.relational import robots_allowed, robots_rules


def _rules(spark, robots: str):
    df = spark.createDataFrame([("h.ex", robots)], "host string, robots string")
    return {(r["is_allow"], r["prefix"])
            for r in robots_rules(df).collect()}


def test_multi_agent_group(spark):
    """Consecutive User-agent lines share one group (RFC 9309 §2.2.1):
    a rule under 'User-agent: a' + 'User-agent: *' applies to *."""
    assert _rules(spark, "User-agent: a\nUser-agent: *\nDisallow: /x\n") \
        == {(False, "/x")}


def test_other_agent_groups_excluded(spark):
    """The evilbot canary: rules in a group that does not name '*' must
    not leak (a last-agent-line shortcut would attribute them)."""
    r = _rules(spark, "User-agent: evil\nDisallow: /\n\n"
                      "User-agent: *\nAllow: /ok\n")
    assert r == {(True, "/ok")}


def test_rules_before_any_group_dropped(spark):
    assert _rules(spark, "Disallow: /orphan\nUser-agent: *\nDisallow: /x\n") \
        == {(False, "/x")}


def test_comments_stripped(spark):
    assert _rules(spark, "User-agent: *\nDisallow: /y # not indexed\n") \
        == {(False, "/y")}


def test_longest_match_and_allow_tie(spark):
    rules = spark.createDataFrame(
        [("h.ex", False, "/a"), ("h.ex", True, "/a/b"),
         ("h.ex", False, "/t"), ("h.ex", True, "/t")],
        "host string, is_allow boolean, prefix string")
    urls = spark.createDataFrame(
        [(1, "h.ex", "/a/x"), (2, "h.ex", "/a/b/x"), (3, "h.ex", "/t/q"),
         (4, "h.ex", "/free"), (5, "other.ex", "/a/x")],
        "i int, host string, path string")
    got = {r["i"]: r["allowed"]
           for r in robots_allowed(urls, rules).collect()}
    assert got[1] is False      # /a disallow wins
    assert got[2] is True       # longer /a/b allow overrides
    assert got[3] is True       # equal length: allow wins the tie
    assert got[4] is True       # no matching rule
    assert got[5] is True       # host without rules


def test_verdict_plan_broadcasts_rules(spark):
    """The frontier side must not shuffle: rules go broadcast."""
    rules = spark.createDataFrame(
        [("h.ex", False, "/a")], "host string, is_allow boolean, prefix string")
    urls = spark.createDataFrame(
        [(1, "h.ex", "/a")], "i int, host string, path string")
    plan = robots_allowed(urls, rules)._jdf.queryExecution().executedPlan() \
        .toString()
    # both clauses must hold independently (the old 'or' was a tautology:
    # a SortMergeJoin plan satisfied the second disjunct)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_blank_lines_inside_group_transparent(spark):
    """RFC 9309's ABNF permits blank lines between the user-agent lines of
    one group: the rule below belongs to BOTH 'a' and '*'."""
    assert _rules(spark, "User-agent: a\n\nUser-agent: *\nDisallow: /x\n") \
        == {(False, "/x")}


def test_non_group_directives_transparent(spark):
    """A Sitemap: line between user-agent lines must not split the group."""
    assert _rules(spark, "User-agent: a\nSitemap: https://h.ex/s.xml\n"
                         "User-agent: *\nDisallow: /x\n") \
        == {(False, "/x")}


def test_robots_directives(spark):
    """Crawl-delay group attribution + file-global sitemaps: the '*'
    group's delay wins, agent-specific delays don't leak, sitemaps
    collect in document order regardless of position, and a host with
    no directives still yields one row (null delay, empty sitemaps)."""
    robots = spark.createDataFrame([
        ("a.example",
         "Sitemap: https://a.example/s1.xml\n"
         "User-agent: evilbot\nCrawl-delay: 99\nDisallow: /\n\n"
         "# comment\n"
         "User-agent: *\nDisallow: /x\nCrawl-delay: 2.5\n"
         "Sitemap: https://a.example/s2.xml\n"),
        # crawl-delay ends the UA run: '*' after it is a NEW group,
        # so bot-a's delay must NOT attach to '*'
        ("b.example",
         "User-agent: bot-a\nCrawl-delay: 7\nUser-agent: *\n"
         "Disallow: /y\n"),
        ("c.example", "User-agent: *\nDisallow: /z\n"),
    ], "host string, robots string")
    got = {r.host: (r.crawl_delay, list(r.sitemaps))
           for r in R.robots_directives(robots).collect()}
    assert got["a.example"] == (2.5, ["https://a.example/s1.xml",
                                      "https://a.example/s2.xml"])
    assert got["b.example"] == (None, [])
    assert got["c.example"] == (None, [])


def test_frontier_schedule(spark, monkeypatch):
    """Slots sequence per host, eta multiplies the host's crawl-delay
    (default 1.0 when absent), the per-host cap truncates hot hosts, and
    the directives join is a broadcast."""
    urls = spark.createDataFrame(
        [("a.example", f"https://a.example/p{i}") for i in range(5)]
        + [("c.example", "https://c.example/only")],
        "host string, url string")
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nCrawl-delay: 2.5\nDisallow: /x\n")],
        "host string, robots string")
    monkeypatch.setattr(R, "FRONTIER_HOST_CAP", 3)
    plan = R.frontier_schedule(urls, R.robots_directives(robots))
    rows = {(r.host, r.url): (r.slot, r.eta_sec) for r in plan.collect()}
    # cap: only 3 of a.example's 5 urls scheduled this cycle
    assert len([k for k in rows if k[0] == "a.example"]) == 3
    assert rows[("a.example", "https://a.example/p0")] == (0, 0.0)
    assert rows[("a.example", "https://a.example/p2")] == (2, 5.0)
    # host with no robots row: default 1.0s delay
    assert rows[("c.example", "https://c.example/only")] == (0, 0.0)
    qplan = plan._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in qplan
    assert "SortMergeJoin" not in qplan


def test_rules_and_directives_group_identically(spark):
    """Review finding (r6): a Crawl-delay line between two User-agent
    runs must end the first group in BOTH parsers -- robots_rules used
    to treat it as transparent and merged the runs, attributing agent
    b's Disallow to '*'."""
    robots = spark.createDataFrame([
        ("x.example",
         "User-agent: *\nCrawl-delay: 1\nUser-agent: b\n"
         "Disallow: /secret\n"),
    ], "host string, robots string")
    rules = {(r.is_allow, r.prefix)
             for r in R.robots_rules(robots).collect()}
    # /secret belongs to b's group only; '*' has no rules at all
    assert rules == set()
    d = R.robots_directives(robots).collect()[0]
    assert d.crawl_delay == 1.0  # and the delay stays with '*'


def test_frontier_schedule_window_group_limit(spark, monkeypatch):
    """Review finding (r6): the per-host cap must reach Spark's
    WindowGroupLimit pushdown (rank computed on at most cap+1 rows per
    host) -- filtering a derived slot column defeats it and ranks every
    row of a hot host."""
    urls = spark.createDataFrame(
        [("h", f"u{i}") for i in range(10)], "host string, url string")
    robots = spark.createDataFrame([], "host string, robots string")
    monkeypatch.setattr(R, "FRONTIER_HOST_CAP", 3)
    plan = R.frontier_schedule(urls, R.robots_directives(robots)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
