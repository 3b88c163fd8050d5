"""Plain-Python models of the rule semantics, and the checks that
compare the program's outputs with them. Nothing here imports the
program: predicates are Python functions written beside each rule's
SQL criteria, and the program's outputs arrive as plain values read
from its parquet files.

Each check returns a list of problems; an empty list means the outputs
match.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

Event = tuple  # (event_id, ts_us, source, details)


@dataclass
class Rule:
    name: str
    kind: str  # threshold | deadman
    threshold: int
    pred: Callable[[Event], bool]  # the criteria, in Python
    key: Callable[[Event], str | None]  # the aggregation key
    key_path: str  # the aggregation_key string (a deadman's empty group)
    spec: dict = field(default_factory=dict)  # the YAML the program loads


def _fire(events, rule: Rule, alerted: set) -> list[tuple[str, list[Event]]]:
    """Groups a rule fires on: threshold -> count >= T over events no
    alert holds yet (F8); deadman -> count <= T over all matching
    events, or one empty group named after the key when none match."""
    excluded = alerted if rule.kind == "threshold" else set()
    groups: dict[str, list[Event]] = defaultdict(list)
    for e in events:
        if e[0] not in excluded and rule.pred(e) and rule.key(e) is not None:
            groups[rule.key(e)].append(e)
    if rule.kind == "threshold":
        return [(k, g) for k, g in groups.items() if len(g) >= rule.threshold]
    if not groups:
        return [(rule.key_path, [])]
    return [(k, g) for k, g in groups.items() if len(g) <= rule.threshold]


# ---------------------------------------------------------------- threshold


def threshold_model(ticks: list[list[Event]], rules: list[Rule]) -> list[list[tuple]]:
    """Per tick, the sorted (rule, group, count, event ids) alerts that
    running the rules in order produces, with one alert history across
    ticks: a rule does not re-alert on events an earlier alert (this
    tick or before) already holds."""
    alerted: set = set()
    out = []
    for events in ticks:
        fired = []
        for rule in rules:
            for key, group in _fire(events, rule, alerted):
                fired.append((rule.name, key, len(group), tuple(e[0] for e in group)))
                alerted.update(e[0] for e in group)
        out.append(sorted(fired))
    return out


def check_threshold(model: list[list[tuple]], alerts: list[list[dict]],
                    thresholds: dict[str, tuple[str, int]]) -> list[str]:
    """alerts[t] = the alert documents tick t appended. Checks the
    fired (rule, group, count) per tick, that no event id sits in two
    alerts, and that every threshold alert's count reaches its rule's
    threshold."""
    problems = []
    if len(model) != len(alerts):
        return [f"ticks: model {len(model)} program {len(alerts)}"]
    seen: Counter = Counter()
    for t, (fired, docs) in enumerate(zip(model, alerts)):
        want = [f[:3] for f in fired]
        got = sorted(
            (d["alert_name"], str(d["metadata"]["value"]), int(d["metadata"]["count"]))
            for d in docs
        )
        if got != want:
            problems.append(
                f"tick {t}: missing {sorted(set(want) - set(got))[:3]} "
                f"extra {sorted(set(got) - set(want))[:3]}"
            )
        for d in docs:
            seen.update(e["event_id"] for e in d.get("events") or [])
            kind, thr = thresholds[d["alert_name"]]
            if kind == "threshold" and int(d["metadata"]["count"]) < thr:
                problems.append(f"tick {t}: {d['alert_name']} count below threshold")
    dup = [i for i, n in seen.items() if n > 1]
    if dup:
        problems.append(f"event ids in two alerts: {dup[:3]}")
    return problems


# -------------------------------------------------------------------- lake


def check_lake(results: dict[str, tuple[list[str], str, int]],
               oracle: dict[str, tuple[list[str], str, int]]) -> list[str]:
    """results/oracle: query -> (sorted columns, value hash, rows)."""
    problems = []
    for name, want in oracle.items():
        got = results.get(name)
        if got != want:
            problems.append(f"{name}: program {got and got[1:]} oracle {want[1:]}")
    return problems
