"""robots.txt parsing and path matching (RFC 9309, public spec) — the
crawl-exclusion layer of a web-corpus pipeline. The meta-robots surface
(`html_extractor.robots_noindex`, q:robots_filter) covers page-level
directives; this module covers the site-level protocol: group selection by
user-agent product token, longest-match rule precedence, `*` wildcards and
the `$` end anchor.

From scratch on stdlib only (urllib.robotparser exists but predates RFC
9309's wildcard/longest-match rules; rolling our own keeps the semantics
pinned and testable). Reference analog: the pipeline's ingest respects the
same exclusions fitz/LLMSherpa-era scrapers had to
(/root/reference/docs/PRD.md mentions sourcing constraints).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class RobotsGroup:
    agents: list[str] = field(default_factory=list)  # lowercased tokens
    # (allow, raw_pattern, compiled_regex, pattern_len)
    rules: list[tuple[bool, str, "re.Pattern[str]", int]] = field(
        default_factory=list
    )


def _compile_path(pattern: str) -> "re.Pattern[str]":
    """RFC 9309 path pattern → anchored regex: `*` matches any octets,
    a TRAILING `$` anchors the end; everything else is literal. The match
    is a prefix match (regex anchored at start only, unless $)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    parts = [re.escape(p) for p in body.split("*")]
    rx = "^" + ".*".join(parts) + ("$" if anchored else "")
    return re.compile(rx)


def parse_robots(text: str) -> list[RobotsGroup]:
    """Parse into user-agent groups. Consecutive User-agent lines share
    one group (RFC 9309 §2.2.1); rules before any User-agent line are
    ignored; unknown directives (Crawl-delay, Sitemap) are skipped."""
    groups: list[RobotsGroup] = []
    cur: RobotsGroup | None = None
    collecting_agents = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not collecting_agents:
                cur = RobotsGroup()
                groups.append(cur)
                collecting_agents = True
            cur.agents.append(val.lower())
        elif key in ("allow", "disallow"):
            collecting_agents = False
            if cur is None:
                continue
            if not val:
                if key == "disallow":  # empty Disallow = allow all
                    continue
                continue
            cur.rules.append(
                (key == "allow", val, _compile_path(val), len(val))
            )
        else:
            collecting_agents = False
    return groups


def _select_rules(groups: list[RobotsGroup], agent: str) -> list | None:
    """RFC 9309 §2.2.1 group selection (ADVICE r4 fixes):

    - Token matching is anchored to the PRODUCT-TOKEN PREFIX of the
      crawler's user-agent string (case-insensitive), not bare substring —
      a short token like 'bot' no longer steals precedence from inside
      arbitrary agent strings; the most specific (longest) matching token
      wins.
    - When more than one group matches the winning token (or, on fallback,
      more than one `*` group exists), the matching groups' rules are
      COMBINED into one rule set, per the spec's "rules MUST be combined"
      clause — previously only the first such group applied.

    Returns the merged rule list, or None when no group applies."""
    agent = agent.lower()
    best_len = -1
    for g in groups:
        for tok in g.agents:
            if tok != "*" and agent.startswith(tok) and len(tok) > best_len:
                best_len = len(tok)
    merged: list = []
    matched = False
    if best_len >= 0:
        for g in groups:
            if any(
                tok != "*" and len(tok) == best_len and agent.startswith(tok)
                for tok in g.agents
            ):
                merged.extend(g.rules)
                matched = True
    else:
        for g in groups:
            if "*" in g.agents:
                merged.extend(g.rules)
                matched = True
    return merged if matched else None


# XML sitemap protocol (sitemaps.org, public): <urlset><url><loc>…
_LOC_RE = re.compile(r"<loc>\s*([^<\s][^<]*?)\s*</loc>")
_XML_ENT = {"&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&apos;": "'"}


def parse_sitemap(xml: str) -> tuple[list[str], list[str]]:
    """→ (page_urls, child_sitemap_urls) from a sitemaps.org document.
    A <sitemapindex> nests <sitemap><loc> entries (child sitemaps to
    fetch); a <urlset> nests <url><loc> page entries. Regex-scoped rather
    than a full XML parser — the protocol pins this exact shape, and
    crawl-scale sitemap readers do the same for robustness against the
    malformed XML actually served. Entities in <loc> are unescaped."""

    def _unescape(u: str) -> str:
        for k, v in _XML_ENT.items():
            u = u.replace(k, v)
        return u

    locs = [_unescape(m.group(1)) for m in _LOC_RE.finditer(xml)]
    if re.search(r"<\s*sitemapindex[\s>]", xml):
        return [], locs
    return locs, []


def robots_allowed(text: str, agent: str, path: str) -> bool:
    """Is `path` fetchable for `agent` under this robots.txt? Longest-match
    precedence (§2.2.2): the rule with the longest pattern wins; on a
    length tie Allow wins; no matching rule (or no matching group) means
    allowed."""
    rules = _select_rules(parse_robots(text), agent)
    if rules is None:
        return True
    best_len, best_allow = -1, True
    for allow, _raw, rx, plen in rules:
        if rx.match(path) and (
            plen > best_len or (plen == best_len and allow and not best_allow)
        ):
            best_len, best_allow = plen, allow
    return best_allow
