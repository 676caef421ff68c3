"""robots.txt parsing + columnar allow/disallow evaluation (RFC 9309).

Crawl governance so far covers in-page opt-outs (meta-robots noindex) and
domain blocklists (``functions/governance.py``); this module adds the
server-side opt-out: a crawler must honor the host's robots.txt before a
page may enter a training corpus.  Two halves:

- :func:`parse_robots_txt` / :func:`robots_rules` — turn robots.txt
  bodies into a flat rules table ``(host, agent, allow, pattern)``.
  Parsing is per-file Python (same tier as the WARC reader — it runs in
  an Arrow-batched ingestion pass, never inside a driver query plan).
- :func:`robots_verdict` — evaluate pages against the rules table with
  pure column expressions: group selection (a specific user-agent group
  shadows ``*`` entirely, per RFC 9309 §2.2.1), longest-match precedence
  with allow-wins ties (§2.2.2), and the de-facto ``*``/``$`` pattern
  extensions (Google's spec) compiled to RE2 by a regexp_replace chain
  the DuckDB oracle reproduces byte-identically.

Scale shape: the rules table is tiny next to the corpus (hosts x tens of
rules) — broadcast it; the per-page work is one join on ``host`` plus a
groupBy on the page key with a conditional struct-max (no window over
the corpus).  Pattern->regex compilation happens on the RULE side before
the join, so each regex is built once per rule, not once per page-pair.

The reference ingests user uploads and has no robots surface; this is
part of the beyond-the-reference training-pipeline tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..session import drop_zip_finders

# ---------------------------------------------------------------------------
# parsing (per-file Python; ingestion tier, not query tier)
# ---------------------------------------------------------------------------


def parse_robots_txt(body: str, host: str) -> list[dict]:
    """Parse one robots.txt body into rule dicts (RFC 9309 group rules).

    Consecutive ``User-agent:`` lines stack into one group's agent set;
    the first ``Allow:``/``Disallow:`` line closes the set, and a later
    ``User-agent:`` line starts a NEW group.  Directives are
    case-insensitive; ``#`` starts a comment; unknown directives
    (Sitemap, Crawl-delay, ...) never break a group per the RFC.  An
    empty-pattern ``Disallow:`` means "allow everything"; it emits a
    GROUP-PRESENCE SENTINEL row (allow=True, pattern='') — without it a
    specific agent group containing only ``Disallow:`` (the standard
    whitelist-this-bot pattern) would vanish and ``select_agent_group``
    would wrongly fall back to the ``*`` group, violating §2.2.1
    shadowing (ADVICE r5).  The evaluator treats the empty pattern as
    no-match, so the sentinel never wins a longest-match.  Rules
    appearing before any User-agent line are invalid and dropped.
    """
    rules: list[dict] = []
    agents: list[str] = []
    in_rules = False  # current agent set has seen a rule line
    for raw in body.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_rules:
                agents = []
                in_rules = False
            if val:
                agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_rules = True
            if not agents:
                continue
            for a in agents:
                rules.append(
                    {
                        "host": host.lower(),
                        "agent": a,
                        # empty pattern -> group-presence sentinel (see above)
                        "allow": True if not val else key == "allow",
                        "pattern": val,
                    }
                )
        # anything else (sitemap, crawl-delay, ...) is ignored and does
        # NOT terminate the current group
    return rules


_RULES_DDL = "host string, agent string, allow boolean, pattern string"


def robots_rules(robots: DataFrame, host_col: str = "host",
                 body_col: str = "body") -> DataFrame:
    """(host, body) robots.txt table -> flat rules(host, agent, allow,
    pattern).  Arrow-batched per-file parsing, same ingestion tier as the
    WARC reader — robots bodies number one per HOST, so this input is
    orders of magnitude smaller than the page corpus."""
    from typing import Iterator

    def parse_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            drop_zip_finders()
            rows = []
            for host, body in zip(pdf[host_col], pdf[body_col]):
                for r in parse_robots_txt(body or "", host or ""):
                    rows.append((r["host"], r["agent"], r["allow"], r["pattern"]))
            yield pd.DataFrame(
                rows, columns=["host", "agent", "allow", "pattern"]
            )

    return robots.select(host_col, body_col).mapInPandas(parse_batches, _RULES_DDL)


# ---------------------------------------------------------------------------
# evaluation (pure column expressions; driver-query tier)
# ---------------------------------------------------------------------------


def robots_pattern_regex_expr(pattern: str | Column) -> Column:
    """Compile a robots path pattern to an anchored RE2 regex, columnar.

    Escapes regex metacharacters EXCEPT ``*`` (wildcard -> ``.*``) and
    re-anchors a trailing escaped ``$`` (end-of-url) back to a real
    anchor; everything else in the pattern is literal.  The identical
    three-step replace chain runs in the DuckDB oracle — RE2 semantics
    on both engines for the compiled pattern.
    """
    c = F.col(pattern) if isinstance(pattern, str) else pattern
    esc = F.regexp_replace(c, r"([\\.\^\$\+\?\(\)\{\}\[\]\|])", r"\\$1")
    wild = F.regexp_replace(esc, r"\*", ".*")
    anchored = F.regexp_replace(wild, r"\\\$$", r"\$")
    return F.concat(F.lit("^"), anchored)


_URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)"
_URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([/?].*)?$"


def url_host_expr(url_col: str | Column = "url") -> Column:
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(F.regexp_extract(c, _URL_HOST_RE, 1))


def url_path_expr(url_col: str | Column = "url") -> Column:
    """Path+query match target (robots patterns may constrain queries);
    a bare ``https://host`` URL matches as ``/``."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    p = F.regexp_extract(c, _URL_PATH_RE, 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def select_agent_group(rules: DataFrame, crawler: str) -> DataFrame:
    """Per-host group selection (RFC 9309 §2.2.1): keep the rules of the
    MOST SPECIFIC matching user-agent — the crawler's own product token
    if that group exists for the host, else the ``*`` group; a specific
    group shadows ``*`` entirely even where it has no matching rule.
    Rules-table-only work (tiny); one groupBy + one join on host."""
    crawler = crawler.lower()
    ranked = rules.where(
        F.lower(F.col("agent")).isin(crawler, "*")
    ).withColumn(
        "_rank", F.when(F.lower(F.col("agent")) == crawler, 0).otherwise(1)
    )
    best = ranked.groupBy("host").agg(F.min("_rank").alias("_best_rank"))
    return (
        ranked.join(F.broadcast(best), "host")  # rules-table-sized: tiny
        .where(F.col("_rank") == F.col("_best_rank"))
        .drop("_rank", "_best_rank")
    )


def robots_verdict(
    pages: DataFrame,
    rules: DataFrame,
    crawler: str = "*",
    url_col: str = "url",
) -> DataFrame:
    """Per-page robots verdict: (..., allowed, matched_pattern).

    Longest-match precedence with allow-wins ties (RFC 9309 §2.2.2),
    expressed as array_max over structs — struct ordering is
    lexicographic, so max(struct(len, allow, pattern)) IS "longest
    pattern, then allow over disallow, then highest pattern" with the
    last key making the argmax deterministic under exact ties.  Pages
    whose host has no applicable rule (or no robots at all) are allowed.

    Zero corpus shuffle: the selected rule group collapses to ONE row
    per host (host -> array of (len, allow, pattern, rx) structs, rules
    tables are tiny), broadcast-joins onto the pages, and the argmax
    runs as codegen array expressions (filter + array_max) — the page
    rows, text included, never leave their input partitions and there
    is no groupBy/window over the corpus.  Regexes are compiled from
    the pattern column on the rule side, once per rule not per page.
    """
    grp = select_agent_group(rules, crawler)
    per_host = grp.groupBy(F.col("host").alias("_r_host")).agg(
        F.collect_list(
            F.struct(
                F.length("pattern").alias("len"),
                F.col("allow").alias("allow"),
                F.col("pattern").alias("pattern"),
                robots_pattern_regex_expr(F.col("pattern")).alias("rx"),
            )
        ).alias("_rules")
    )
    keyed = pages.select(
        "*",
        url_host_expr(url_col).alias("_host"),
        url_path_expr(url_col).alias("_path"),
    )
    joined = keyed.join(
        F.broadcast(per_host), F.col("_host") == F.col("_r_host"), "left"
    )
    matched = F.filter(
        # len > 0: an empty pattern is a group-presence sentinel (empty
        # Disallow), never a match — checked BEFORE the regex so the
        # sentinel's '^' (match-anything) compile can't fire
        F.col("_rules"),
        lambda r: (r["len"] > 0) & F.regexp_like(F.col("_path"), r["rx"]),
    )
    best = F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                r["len"].alias("len"),
                r["allow"].alias("allow"),
                r["pattern"].alias("pattern"),
            ),
        )
    )
    return joined.select(
        *pages.columns,
        F.coalesce(best["allow"], F.lit(True)).alias("allowed"),
        best["pattern"].alias("matched_pattern"),
    )
