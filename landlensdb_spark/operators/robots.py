"""robots.txt (RFC 9309) parsing + URL gating — crawl compliance at scale.

The fetch planner (operators/fetch.py) paces requests per host; this
module decides WHICH urls may be fetched at all: parse each host's
robots.txt (the public RFC 9309 grammar), pick the most specific
user-agent group, and gate every candidate url by longest-match
allow/disallow, plus the non-standard-but-universal Crawl-delay as the
per-host budget input.

Scope (documented): literal path prefixes — the RFC's ``*``/``$``
wildcards are matched as literals by this evaluator (a rule containing
them simply never prefix-matches), which fails CLOSED only for allow
rules and open for wildcard disallows; production crawlers wanting full
pattern semantics swap ``_match`` for a regex translation. Group
selection: exact agent token match wins over ``*``; rules of the winning
group only (per RFC).

Scale shape: rules are parsed ONCE per host (small per-host lists),
carried as an array<struct> column, and every url gates via a pure
higher-order column expression (filter + aggregate over the rules array
— JVM-side, no Python, no explode): one equi-join on host, zero
shuffles beyond it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from landlensdb_spark.operators.multimodal import map_rows

RULE_SCHEMA = "array<struct<prefix:string,allow:boolean>>"


def parse_robots(text: str, agent: str = "*") -> tuple[list[tuple[str, bool]], float | None]:
    """robots.txt text -> (rules for the best-matching group, crawl_delay).

    Groups are ``User-agent`` runs followed by Allow/Disallow lines; the
    group picked is the exact ``agent`` match if present, else ``*``.
    An empty Disallow ("Disallow:") means allow-all and contributes no
    rule. Returns ([], None) when no group applies."""
    groups: dict[str, list[tuple[str, bool]]] = {}
    delays: dict[str, float] = {}
    current: list[str] = []
    in_rules = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_rules:  # a new group starts after rule lines
                current = []
                in_rules = False
            current.append(value.lower())
            for a in current:
                groups.setdefault(a, [])
        elif field in ("allow", "disallow"):
            in_rules = True
            if value:
                for a in current:
                    groups.setdefault(a, []).append((value, field == "allow"))
        elif field == "crawl-delay":
            in_rules = True
            try:
                for a in current:
                    delays[a] = float(value)
            except ValueError:
                pass
    pick = agent.lower() if agent.lower() in groups else ("*" if "*" in groups else None)
    if pick is None:
        return [], None
    return groups[pick], delays.get(pick)


def robots_rules_df(
    robots: DataFrame,
    host: str = "host",
    text: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """(host, rules array<struct<prefix,allow>>, crawl_delay) — one parse
    per host via an Arrow row-map pass."""

    def _parse(t: str | None) -> tuple:
        rules, delay = parse_robots(t, agent)
        return ([{"prefix": p, "allow": a} for p, a in rules], delay)

    return map_rows(
        robots, text, _parse, f"rules {RULE_SCHEMA}, crawl_delay double", keep=[host]
    )


def allowed_expr(path: Column, rules: Column) -> Column:
    """Longest-match RFC 9309 verdict as a pure column expression: among
    rules whose prefix matches ``path``, the longest wins; ties go to
    allow; no match (or no rules) = allowed."""
    matching = F.filter(rules, lambda r: path.startswith(r["prefix"]))
    best = F.aggregate(
        matching,
        F.struct(
            F.lit(-1).alias("ln"), F.lit(True).alias("allow")
        ),
        lambda acc, r: F.when(
            (F.length(r["prefix"]) > acc["ln"])
            | ((F.length(r["prefix"]) == acc["ln"]) & r["allow"]),
            F.struct(F.length(r["prefix"]).alias("ln"), r["allow"].alias("allow")),
        ).otherwise(acc),
    )
    return best["allow"]


def gate_urls(
    urls: DataFrame,
    robots: DataFrame,
    url_host: str = "host",
    url_path: str = "path",
    agent: str = "*",
    robots_host: str = "host",
    robots_text: str = "robots_txt",
) -> DataFrame:
    """urls x per-host robots rules -> urls + (allowed boolean,
    crawl_delay double). Hosts with no robots entry are fully allowed
    (RFC: unavailable robots.txt means no restrictions). The robots
    frame's own column names (``robots_host``/``robots_text``) are
    independent of the urls join column ``url_host``."""
    clash = {"rules", "allowed", "crawl_delay"} & set(urls.columns)
    if clash:  # mirrors warc_records' collision check: a pre-existing
        # 'rules'/'allowed'/'crawl_delay' column would be silently
        # shadowed by the join output
        raise ValueError(f"url columns collide with gate output fields: {sorted(clash)}")
    rules = robots_rules_df(robots, host=robots_host, text=robots_text, agent=agent)
    if robots_host != url_host:
        rules = rules.withColumnRenamed(robots_host, url_host)
    joined = urls.join(rules, url_host, "left")
    return joined.select(
        *[F.col(c) for c in urls.columns],
        F.when(F.col("rules").isNull(), F.lit(True))
        .otherwise(allowed_expr(F.col(url_path), F.col("rules")))
        .alias("allowed"),
        F.col("crawl_delay"),
    )
