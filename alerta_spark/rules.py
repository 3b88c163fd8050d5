"""Alert-rule model: YAML loading + default shells.

Mirrors the reference's declarative rule surface (README.md:53-68;
shells at alerta.py:164-207, 251-271): ``alert_name``, ``alert_type``
(threshold|deadman|sequence), ``criteria`` (SQL WHERE fragment),
``threshold``, ``aggregation_key`` (dotted path), ``summary`` /
``event_snippet`` (mustache), ``event_sample_count``, ``severity``,
``category``, ``tags``, ``lifespan`` + ``slots[]`` (sequence only).

Rules are plain dicts (like the reference) so sequence state documents
can embed partially-filled slots.
"""

from __future__ import annotations

import glob
import re
import uuid
from datetime import datetime, timedelta, timezone
from typing import Any

import yaml


def utcnow() -> datetime:
    return datetime.now(timezone.utc)


def generate_meteor_id() -> str:
    """24-hex-char random id (reference: alerta.py:31-35)."""
    return uuid.uuid4().hex[:24]


def merge(overrides: dict, defaults: dict) -> dict:
    """Recursive merge: values in `overrides` win (reference:
    utils/dict_helpers.py:5-16)."""
    out = dict(defaults)
    for k, v in overrides.items():
        if k in out and isinstance(out[k], dict) and isinstance(v, dict):
            out[k] = merge(v, out[k])
        else:
            out[k] = v
    return out


# Unit ends at anything that is NOT a letter (negative lookahead, not
# \b): compact pd.Timedelta forms like '1h30m' put the next number
# right after the unit letter, which \b rejected ('1h' then ended up
# in the residue and raised). Leading/trailing wrapper punctuation
# ('3 days)', '1h;', '(30 min)') stays tolerated — a documented
# divergence from pd.Timedelta, which raises — but residue BETWEEN
# matched components is restricted to the separators pandas itself
# accepts (whitespace, ','): '1h;30m' / '3 days) 1 hour' must raise,
# not silently SUM components the reference parser rejects. A LETTER
# after the unit still fails the lookahead, so '2 days 1 month' keeps
# raising instead of silently parsing the 'm' of 'month' as minutes.
_TIMEDELTA = re.compile(
    r"(?P<n>\d+(?:\.\d+)?)\s*(?P<unit>w(?:eeks?)?|d(?:ays?)?|h(?:ours?|rs?)?|"
    r"m(?:in(?:ute)?s?)?|s(?:ec(?:ond)?s?)?)(?![A-Za-z])",
    re.IGNORECASE,
)

_UNIT_SECONDS = {"w": 604800, "d": 86400, "h": 3600, "m": 60, "s": 1}


def parse_timedelta(text: str) -> timedelta:
    """Parse human interval strings like '7 days', '1 hour', '90 min'
    (reference uses pd.Timedelta at alerta.py:266). Abbreviated plural
    units ('90 mins', '30 secs', '2 hrs') parse like pd.Timedelta's;
    an UNKNOWN unit raises even when mixed with known ones —
    '2 days 1 month' must not silently become 2 days (pd.Timedelta
    raises on it), or a sequence's state would expire far earlier
    than configured."""
    s = str(text)
    total = 0.0
    spans: list[tuple[int, int]] = []
    for m in _TIMEDELTA.finditer(s):
        total += float(m.group("n")) * _UNIT_SECONDS[m.group("unit")[0].lower()]
        spans.append(m.span())
    if total == 0.0:
        raise ValueError(f"unparseable interval: {text!r}")
    # Residue policy, positional (ADVICE r9): INTERIOR residue — text
    # between two matched components — may only be the separators
    # pd.Timedelta itself accepts (whitespace, ','), so '1h;30m' and
    # '3 days) 1 hour' raise instead of silently summing components
    # the reference parser rejects. LEADING/TRAILING residue keeps the
    # wrapper-punctuation tolerance ('(30 min)', '3 days)' — a
    # documented divergence, pandas raises) but still rejects word
    # characters AND sign characters: pd.Timedelta allows only leading
    # negative signs, and a lifespan is a positive duration, so
    # '-30m'/'+1h' raise rather than parsing sign-stripped.
    interior = "".join(s[b1:a2] for (_, b1), (a2, _) in zip(spans, spans[1:]))
    edges = s[: spans[0][0]] + s[spans[-1][1] :]
    if re.search(r"[^\s,]", interior) or re.search(r"[\w+\-]", edges):
        raise ValueError(f"unparseable interval: {text!r}")
    return timedelta(seconds=total)


def threshold_shell(params: dict[str, Any]) -> dict[str, Any]:
    """Defaults for a threshold rule (reference: alerta.py:164-184)."""
    shell = {
        "alert_name": params.get("alert_name", "unnamed"),
        "alert_type": params.get("alert_type", "threshold"),
        "utctimestamp": params.get("utctimestamp", utcnow().isoformat()),
        "severity": params.get("severity", "INFO"),
        "summary": params.get("summary", "threshold alert!"),
        "event_snippet": params.get("event_snippet", ""),
        "event_sample_count": params.get("event_sample_count", 3),
        "category": params.get("category", "general"),
        "tags": params.get("tags", []),
        "threshold": params.get("threshold", 1),
        "aggregation_key": params.get("aggregation_key", ""),
        "criteria": params.get("criteria", ""),
        "debug": params.get("debug", True),
        "events": [],
    }
    return merge(params, shell)


def deadman_shell(params: dict[str, Any]) -> dict[str, Any]:
    """Defaults for a deadman rule (reference: alerta.py:187-207)."""
    shell = {
        "alert_name": params.get("alert_name", "unnamed"),
        "alert_type": params.get("alert_type", "deadman"),
        "utctimestamp": params.get("utctimestamp", utcnow().isoformat()),
        "severity": params.get("severity", "INFO"),
        "summary": params.get("summary", "deadman alert!"),
        "event_snippet": params.get("event_snippet", ""),
        "event_sample_count": params.get("event_sample_count", 0),
        "category": params.get("category", "deadman"),
        "tags": params.get("tags", ["deadman"]),
        "threshold": params.get("threshold", 0),
        "aggregation_key": params.get("aggregation_key", "none"),
        "criteria": params.get("criteria", ""),
        "debug": params.get("debug", True),
        "events": [],
    }
    return merge(params, shell)


def sequence_shell(params: dict[str, Any]) -> dict[str, Any]:
    """Defaults for a sequence rule incl. expiration from lifespan
    (reference: alerta.py:251-271)."""
    shell = {
        "alert_name": params.get("alert_name", "unnamed"),
        "alert_type": params.get("alert_type", "sequence"),
        "utctimestamp": params.get("utctimestamp", utcnow().isoformat()),
        "lifespan": params.get("lifespan", "3 days"),
        "severity": params.get("severity", "INFO"),
        "summary": params.get("summary", "sequence alert!"),
        "debug": params.get("debug", True),
        "slots": params.get("slots", []),
    }
    start = datetime.fromisoformat(str(shell["utctimestamp"]))
    if start.tzinfo is None:
        start = start.replace(tzinfo=timezone.utc)
    shell["expiration"] = params.get(
        "expiration", (start + parse_timedelta(shell["lifespan"])).isoformat()
    )
    return merge(params, shell)


def load_rules(mask: str) -> list[dict[str, Any]]:
    """Glob rule files and YAML-parse (reference: alerta.py:499-506)."""
    rules = []
    for path in sorted(glob.glob(mask)):
        with open(path) as f:
            doc = yaml.safe_load(f)
        if doc:
            rules.append(doc)
    return rules


def parse_interval(text: str) -> tuple[datetime, datetime]:
    """ISO-8601 interval 'start/end' -> (start, end); naive bounds are
    UTC (matching the engine's pinned UTC session clock)."""
    from datetime import timezone

    s, _, e = str(text).partition("/")
    if not e:
        raise ValueError(f"suppress window needs 'start/end', got {text!r}")
    lo = datetime.fromisoformat(s.strip())
    hi = datetime.fromisoformat(e.strip())
    if lo.tzinfo is None:
        lo = lo.replace(tzinfo=timezone.utc)
    if hi.tzinfo is None:
        hi = hi.replace(tzinfo=timezone.utc)
    if hi <= lo:
        raise ValueError(f"empty suppress window {text!r}")
    return lo, hi


def rule_suppressed(rule: dict, now: datetime) -> bool:
    """True when ``now`` falls inside any of the rule's ``suppress``
    maintenance windows ('start/end' ISO-interval strings, end
    exclusive). Malformed windows raise at evaluation time — a silent
    bad window would silently page (or silently not)."""
    from datetime import timezone

    if now.tzinfo is None:
        now = now.replace(tzinfo=timezone.utc)
    for win in rule.get("suppress", []) or []:
        lo, hi = parse_interval(win)
        if lo <= now < hi:
            return True
    return False
