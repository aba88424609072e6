"""RSS feed parser — streaming event state machine.

From-scratch reimplementation of the reference's parser semantics
(``/root/reference/src/crawler_refactor/rss.rs:172-611``; the legacy copy at
``src/crawler/rss.rs`` is semantically identical, SURVEY.md §2.3).  Pinned by
golden tests ported from ``/root/reference/tests/rss_parser_test.rs`` and
``tests/crawler_test.rs``.

Faithfully reproduced quirks:

* State machine ``Initial → InPodcast`` on ``<channel>`` (which *re-creates*
  the podcast record), ``→ InEpisode`` on ``<item>``, back on ``</item>``,
  ``Finished`` on ``</channel>`` (``rss.rs:264-279,336-344``).
* **Sticky current tag** (P11): set on every start event, never cleared on
  end events — nested ``itunes:owner/itunes:name`` works *because* of this
  (``rss.rs:193``).
* Text events: XML-unescape → ammonia-clean → skip if blank; **last
  non-blank text wins** for scalar fields, list fields append
  (``rss.rs:296-329,764-777``).  CDATA content is taken raw (no XML
  unescape) then cleaned (``rss.rs:212-218``).
* Attribute values raw, no entity decode (P12); only the enclosure ``url``
  gets ``&amp;``→``&`` and, for non-http URLs, ``//``→``/``
  (``rss.rs:456-470``).
* Strict mode: missing enclosure ``url`` attr or unparseable ``length``
  fails the feed (``rss.rs:476-500``); invalid ``link`` URLs fail the feed
  (``rss.rs:514-521``); empty podcast/episode ``title`` fails the feed
  (``rss.rs:104-128,505-512``).
* Episode ``keywords``/``category`` are never populated (the reference's
  episode field map has no entry for them, ``rss.rs:416-438``);
  ``lastBuildDate`` and channel ``pubDate`` are ignored.

Output is plain dicts (Arrow-friendly) so the same function serves the
pandas oracle and the Spark ``mapInArrow`` parse stage.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from .sanitize import clean_text
from .scalars import parse_bool, parse_date, validate_url
from .xmlscan import XmlEscapeError, XmlScanError, scan, xml_unescape

# error taxonomy mirrors AppError/ParseErrorKind
# (/root/reference/src/infrastructure/error/mod.rs:51-75)
KIND_INVALID_XML = "invalid_xml"
KIND_MISSING_FIELD = "missing_field"
KIND_INVALID_FORMAT = "invalid_format"


class FeedParseError(Exception):
    def __init__(self, kind: str, message: str, url: str):
        super().__init__(f"[{kind}] {message} (feed {url})")
        self.kind = kind
        self.message = message
        self.url = url


def _new_podcast(url: str) -> Dict:
    return {
        "title": "",
        "description": None,
        "link": None,
        "last_build_date": None,  # schema parity; parser never sets it
        "language": None,
        "copyright": None,
        "image_url": None,
        "rss_feed_url": url,
        "category": None,
        "author": None,
        "owner_name": None,
        "owner_email": None,
        "keywords": None,
        "explicit": None,
        "summary": None,
        "subtitle": None,
    }


def _new_episode() -> Dict:
    return {
        "episode_image_url": None,
        "title": "",
        "description": None,
        "link": None,
        "pub_date": None,
        "guid": None,
        "enclosure_url": None,
        "enclosure_type": None,
        "enclosure_length": None,
        "explicit": None,
        "subtitle": None,
        "author": None,
        "summary": None,
        "keywords": None,  # never populated (see module docstring)
        "category": None,  # never populated
        "duration": None,
    }


_ST_INITIAL, _ST_PODCAST, _ST_EPISODE, _ST_FINISHED = range(4)

# How a text event's value lands in its record field.
_SET, _APPEND, _BOOL, _DATE, _URL = range(5)

# Text events, by the sticky current tag: record field and how it is set
# (``rss.rs:296-329`` podcast, ``rss.rs:416-438`` episode).
_PODCAST_TEXT = {
    "title": ("title", _SET),
    "description": ("description", _SET),
    "language": ("language", _SET),
    "copyright": ("copyright", _SET),
    "itunes:author": ("author", _SET),
    "itunes:name": ("owner_name", _SET),
    "itunes:email": ("owner_email", _SET),
    "itunes:category": ("category", _APPEND),
    "itunes:keywords": ("keywords", _APPEND),
    "itunes:explicit": ("explicit", _BOOL),
    "itunes:summary": ("summary", _SET),
    "itunes:subtitle": ("subtitle", _SET),
    "link": ("link", _URL),
}
_EPISODE_TEXT = {
    "title": ("title", _SET),
    "description": ("description", _SET),
    "pubDate": ("pub_date", _DATE),
    "guid": ("guid", _SET),
    "itunes:duration": ("duration", _SET),
    "itunes:author": ("author", _SET),
    "itunes:subtitle": ("subtitle", _SET),
    "itunes:summary": ("summary", _SET),
    "itunes:explicit": ("explicit", _BOOL),
    "link": ("link", _URL),
}


@dataclass
class ParserConfig:
    """Mirrors ``ParserConfig`` defaults (``rss.rs:150-159``)."""

    clean_html: bool = True
    validate_urls: bool = True
    allow_empty_required: bool = False
    strict_mode: bool = True


def _attr(attrs: Tuple[Tuple[str, str], ...], name: str) -> Optional[str]:
    for k, v in attrs:
        if k == name:
            return v
    return None


def _append(record: Dict, key: str, value: str) -> None:
    if record[key] is None:
        record[key] = []
    record[key].append(value)


def _check_url(text: str, url: str, config: ParserConfig) -> None:
    if config.validate_urls and not validate_url(text):
        raise FeedParseError(KIND_INVALID_FORMAT, f"Invalid link URL: {text}", url)


def _enclosure_url(value: str) -> str:
    """An enclosure url as stored: ``&amp;`` decoded and, for non-http
    URLs, ``//`` collapsed to ``/`` (RSS ``url`` and Atom ``href`` alike)."""
    decoded = value.replace("&amp;", "&")
    return decoded if decoded.startswith("http") else decoded.replace("//", "/")


def _enclosure(
    episode: Dict, attrs: Tuple[Tuple[str, str], ...], url: str, config: ParserConfig
) -> None:
    found_url = ",url not found"
    error_msg = ""
    for key, value in attrs:
        if key == "url":
            normalized = _enclosure_url(value)
            _check_url(normalized, url, config)
            episode["enclosure_url"] = normalized
            found_url = ""
        elif key == "type":
            episode["enclosure_type"] = value
        elif key == "length":
            try:
                episode["enclosure_length"] = int(value)
            except ValueError:
                if config.strict_mode:
                    error_msg = f"Invalid enclosure length: {value}"
    error_msg += found_url
    if error_msg and config.strict_mode:
        raise FeedParseError(KIND_MISSING_FIELD, error_msg, url)


_START_TAGS = frozenset({"link", "itunes:image", "itunes:category", "enclosure"})


def _start(
    state: int, tag: str, record: Dict, attrs, url: str, config: ParserConfig
) -> None:
    """The :data:`_START_TAGS` start events inside ``<channel>`` or
    ``<item>``: their attributes set fields (``rss.rs:446-470``)."""
    if state == _ST_PODCAST:
        if tag == "link" or tag == "itunes:image":
            href = _attr(attrs, "href")
            if href is not None:
                _check_url(href, url, config)
                record["link" if tag == "link" else "image_url"] = href
        elif tag == "itunes:category":
            text = _attr(attrs, "text")
            if text is not None:
                _append(record, "category", text)
    elif state == _ST_EPISODE:
        if tag == "enclosure":
            _enclosure(record, attrs, url, config)
        elif tag == "itunes:image":
            href = _attr(attrs, "href")
            if href is not None:
                _check_url(href, url, config)
                record["episode_image_url"] = href


def parse_feed(
    content: bytes, url: str, config: ParserConfig = ParserConfig()
) -> Tuple[Dict, List[Dict]]:
    """Parse RSS bytes → (podcast dict, [episode dicts]).

    Raises :class:`FeedParseError` on any condition that fails the feed in
    the reference.

    Text events are XML-unescaped whatever the state or tag (a bad entity
    anywhere fails the feed), but cleaned only when a field takes them;
    whitespace-only text, blank after unescape and clean, is dropped
    before either.
    """
    doc = content.decode("utf-8", errors="replace")
    keep_blank = config.allow_empty_required
    state = _ST_INITIAL
    tag = ""  # sticky current tag (P11)
    podcast = record = _new_podcast(url)
    fields: Optional[Dict] = None  # text dispatch of the current state
    episodes: List[Dict] = []
    try:
        for kind, name, attrs, raw in scan(doc):
            if kind == "start":
                tag = name
                if name == "channel":
                    state, fields = _ST_PODCAST, _PODCAST_TEXT
                    podcast = record = _new_podcast(url)
                elif name == "item":
                    state, fields = _ST_EPISODE, _EPISODE_TEXT
                    record = _new_episode()
                elif name in _START_TAGS:
                    _start(state, name, record, attrs, url, config)
            elif kind == "end":
                if name == "channel" and state == _ST_PODCAST:
                    state, fields = _ST_FINISHED, None
                elif name == "item" and state == _ST_EPISODE:
                    if not record["title"]:
                        raise FeedParseError(
                            KIND_MISSING_FIELD, "Missing episode title", url
                        )
                    episodes.append(record)
                    state, fields = _ST_PODCAST, _PODCAST_TEXT
                    record = podcast
            elif kind == "eof":
                break
            else:  # text, cdata
                if not keep_blank and raw.isspace() and "\xa0" not in raw:
                    continue
                # CDATA is taken raw, with no XML unescape (rss.rs:212-218)
                if kind == "text" and "&" in raw:
                    try:
                        raw = xml_unescape(raw)
                    except XmlEscapeError as exc:
                        raise FeedParseError(
                            KIND_INVALID_XML, f"Failed to unescape text: {exc}", url
                        ) from exc
                spec = fields.get(tag) if fields is not None else None
                if spec is None:
                    continue
                text = clean_text(raw) if config.clean_html else raw
                if not keep_blank and not text.strip():
                    continue
                field, how = spec
                if how == _SET:
                    record[field] = text
                elif how == _APPEND:
                    _append(record, field, text)
                elif how == _BOOL:
                    record[field] = parse_bool(text)
                elif how == _DATE:
                    record[field] = parse_date(text)
                else:
                    _check_url(text, url, config)
                    record[field] = text
    except XmlScanError as exc:
        raise FeedParseError(KIND_INVALID_XML, str(exc), url) from exc

    if not podcast["title"]:
        raise FeedParseError(KIND_MISSING_FIELD, "Missing podcast title", url)
    return podcast, episodes


def extract_text(podcast: Dict, episodes: List[Dict]) -> str:
    """Canonical "extracted text" of a feed — the per-url byte-identity
    invariant (BASELINE.json input_hint).  Defined as the cleaned podcast
    title/description followed by each episode's cleaned title/description,
    newline-joined (all values already passed through :func:`clean_text`)."""
    parts = [podcast["title"], podcast["description"] or ""]
    for ep in episodes:
        parts.append(ep["title"])
        parts.append(ep["description"] or "")
    return "\n".join(parts)


def parse_feed_result(content: Optional[bytes], url: str) -> Dict:
    """Non-raising wrapper: one dict per fetched page, carrying either the
    parse output or the error taxonomy row (SURVEY.md §2.9 R5)."""
    if content is None:
        return {
            "podcast": None,
            "episodes": None,
            "text": None,
            "error_kind": "network",
            "error_message": "fetch returned no content",
        }
    try:
        podcast, episodes = parse_feed(content, url)
    except FeedParseError as exc:
        return {
            "podcast": None,
            "episodes": None,
            "text": None,
            "error_kind": exc.kind,
            "error_message": exc.message,
        }
    return {
        "podcast": podcast,
        "episodes": episodes,
        "text": extract_text(podcast, episodes),
        "error_kind": None,
        "error_message": None,
    }
