"""Scalar parse functions: parse_bool, parse_date, validate_url.

Reimplementations of the reference's free functions (reference:
``/root/reference/src/crawler_refactor/rss.rs:661-720``), pinned by the
scalar golden tests ``/root/reference/tests/rss_parser_test.rs:199-252``.
Pure Python so they run standalone and inside the Arrow-batched parse stage.
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone
from email.utils import parsedate_tz
from typing import Optional

_TRUE = {"true", "yes", "1"}
_FALSE = {"false", "no", "0"}


def parse_bool(value: str) -> Optional[bool]:
    """``rss.rs:661-667``: lowercase ∈ {true,yes,1}→True, {false,no,0}→False,
    else None."""
    low = value.lower()
    if low in _TRUE:
        return True
    if low in _FALSE:
        return False
    return None


# chrono::DateTime::parse_from_rfc3339 accepts 'T'/'t' separators and an
# explicit offset or Z; gate with a regex so Python's lenient fromisoformat
# doesn't accept inputs chrono would reject.
_RFC3339_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})[Tt ](\d{2}):(\d{2}):(\d{2})(\.\d+)?"
    r"([Zz]|[+-]\d{2}:\d{2})$"
)

_FALLBACK_FORMATS = ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d")
# The first fallback format in its zero-padded form.  strptime accepts a
# string of this shape exactly when the datetime constructor accepts its
# fields, and builds the same value, so a match skips strptime's
# Python-level format parse.
_NAIVE_DATETIME_RE = re.compile(
    r"([0-9]{4})-([0-9]{2})-([0-9]{2}) ([0-9]{2}):([0-9]{2}):([0-9]{2})"
)


def parse_date(date_str: str) -> Optional[datetime]:
    """``rss.rs:690-720``: try RFC 2822, then RFC 3339, then three naive
    formats (interpreted as UTC); None if all fail.  Returns tz-aware UTC."""
    # RFC 2822 (e.g. "Wed, 04 Dec 2024 10:06:00 GMT")
    tup = parsedate_tz(date_str)
    if tup is not None and tup[0] is not None:
        try:
            tz_offset = tup[9] if tup[9] is not None else 0
            dt = datetime(*tup[:6], tzinfo=timezone(timedelta(seconds=tz_offset)))
            return dt.astimezone(timezone.utc)
        except ValueError:
            pass
    m = _RFC3339_RE.match(date_str)
    if m:
        try:
            iso = date_str.upper() if date_str[-1] in "zZ" else date_str
            dt = datetime.fromisoformat(iso.replace("t", "T", 1))
            return dt.astimezone(timezone.utc)
        except ValueError:
            pass
    m = _NAIVE_DATETIME_RE.fullmatch(date_str)
    if m:
        try:
            return datetime(*map(int, m.groups()), tzinfo=timezone.utc)
        except ValueError:
            pass
    for fmt in _FALLBACK_FORMATS:
        try:
            return datetime.strptime(date_str, fmt).replace(tzinfo=timezone.utc)
        except ValueError:
            continue
    return None


# rust `url::Url::parse` + scheme ∈ {http, https} (``rss.rs:678-687``).
# The url crate requires a non-empty host for special schemes and rejects
# whitespace-bearing garbage like "not a url" (no scheme at all).
_HTTP_URL_RE = re.compile(
    r"^[hH][tT][tT][pP][sS]?://"  # scheme
    r"(?:[^/?#\s@]*@)?"  # userinfo
    r"[^/?#\s:@]+"  # non-empty host
    r"(?::\d*)?"  # port
    r"(?:[/?#]\S*)?$"  # path/query/fragment (no whitespace)
)


def validate_url(url: str) -> bool:
    """True iff the reference's ``validate_url`` would return Ok."""
    return _HTTP_URL_RE.match(url.strip()) is not None
