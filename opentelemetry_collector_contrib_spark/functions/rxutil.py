"""Shared regex plumbing for handing Python-authored patterns to other
engines: named-group stripping + capturing-group index mapping for JVM
regexp_* functions (Java group names reject '_', '.', '@'; extraction is by
index instead), and unnamed-group removal for Arrow's RE2 extract_regex.

One walker serves ottl.extract_patterns and both grok.grok_extract engines —
it tracks escapes with a real state machine (any run of backslashes, not a
two-char lookback) and treats '(' inside [...] character classes as the
literal it is.
"""

from __future__ import annotations


def _group_opens(rx: str):
    """Yield the index of every '(' that opens a group: not escaped and not
    inside a [...] character class."""
    in_class = False
    escaped = False
    start = 0  # index of the first class member, past an optional '^'
    for i, ch in enumerate(rx):
        if escaped:
            escaped = False
        elif ch == "\\":
            escaped = True
        elif in_class:
            # a ']' first in the class ('[]a]', '[^]a]') is a literal
            if ch == "]" and i > start:
                in_class = False
        elif ch == "[":
            in_class = True
            start = i + 2 if rx.startswith("^", i + 1) else i + 1
        elif ch == "(":
            yield i


def strip_named_groups(rx: str) -> tuple[str, list[tuple[int, str]]]:
    """-> (pattern with named groups converted to plain capturing groups,
    [(capturing_group_index_1_based, group_name), ...] in order).

    Handles (?P<name>...) and (?<name>...); lookbehinds (?<= (?<! are left
    untouched. Non-capturing (?:...), lookaheads, and flags groups are
    skipped for index counting."""
    out: list[str] = []
    names: list[tuple[int, str]] = []
    gi = 0
    last = 0
    for i in _group_opens(rx):
        is_named = rx.startswith("(?P<", i) or (
            rx.startswith("(?<", i)
            and not rx.startswith("(?<=", i)
            and not rx.startswith("(?<!", i)
        )
        if is_named:
            gi += 1
            end = rx.index(">", i)
            start = i + (4 if rx.startswith("(?P<", i) else 3)
            names.append((gi, rx[start:end]))
            out.append(rx[last:i] + "(")
            last = end + 1
        elif not rx.startswith("(?", i):
            gi += 1
    return "".join(out) + rx[last:], names


def uncapture_unnamed_groups(rx: str) -> str:
    """Rewrite every unnamed capturing '(' to a non-capturing '(?:'.

    Arrow's extract_regex rejects patterns with unnamed groups; they
    capture nothing a named-group map keeps, so matching is unchanged."""
    out: list[str] = []
    last = 0
    for i in _group_opens(rx):
        if not rx.startswith("(?", i):
            out.append(rx[last:i] + "(?:")
            last = i + 1
    return "".join(out) + rx[last:]
