"""robots.txt parsing + longest-match verdicts (RFC 9309 subset)."""

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


def test_rules_and_directives_group_identically(spark):
    """Review finding (r6): a Crawl-delay line between two User-agent
    runs must end the first group, as an Allow/Disallow rule does --
    robots_rules used to treat it as transparent and merged the runs,
    attributing agent b's Disallow to '*'."""
    robots = spark.createDataFrame([
        ("x.example",
         "User-agent: *\nCrawl-delay: 1\nUser-agent: b\n"
         "Disallow: /secret\n"),
    ], "host string, robots string")
    rules = {(r.is_allow, r.prefix)
             for r in robots_rules(robots).collect()}
    # /secret belongs to b's group only; '*' has no rules at all
    assert rules == set()

