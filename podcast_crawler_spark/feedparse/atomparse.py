"""Atom feed parser — the same streaming event state machine as
``rssparse``, over Atom's vocabulary (RFC 4287).

Reference parity note: the reference DECLARES Atom support (error kind
``InvalidAtom``, ``infrastructure/error/parse.rs:53``) but never
constructs it — no Atom parsing exists in its code, the same
declared-but-dead situation as the X3 ε-greedy selector.  A podcast
crawler meets Atom feeds constantly (feed autodiscovery advertises
``application/atom+xml``; see ``operators/links.feed_autodiscovery``),
so this module implements the support the reference only named.  The
output shape is EXACTLY ``rssparse``'s (podcast dict, [episode dicts]),
so everything downstream (upserts, LWW dedup, the episodes table) is
format-agnostic.

Field policy (explicit, last-text-wins like rssparse):

  feed level:  title → title; subtitle → subtitle; rights → copyright;
               author/name → author; logo → image_url (logo wins over
               icon); link[rel=alternate or relless] href → link.
  entry level: title → title; id → guid; published → pub_date
               (falling back to updated when absent); summary →
               description; content → summary;
               link[rel=alternate|relless] → link;
               link[rel=enclosure] → enclosure_url/type/length
               (href decoded by rssparse's enclosure rule).

Malformed XML / entities raise :class:`rssparse.FeedParseError` with
kind ``invalid_atom`` — finally constructing the reference's dead
error variant.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from .rssparse import (
    FeedParseError,
    ParserConfig,
    _attr,
    _enclosure_url,
    _new_episode,
    _new_podcast,
)
from .scalars import parse_date, validate_url
from .xmlscan import XmlEscapeError, XmlScanError, scan, xml_unescape

KIND_INVALID_ATOM = "invalid_atom"

_FEED_TEXT = {
    "title": "title",
    "subtitle": "subtitle",
    "rights": "copyright",
}
_ENTRY_TEXT = {
    "title": "title",
    "id": "guid",
    "summary": "description",
    "content": "summary",
}


def parse_atom_feed(
    content: bytes, url: str, config: ParserConfig = ParserConfig()
) -> Tuple[Dict, List[Dict]]:
    """Parse Atom bytes → (podcast dict, [episode dicts]) — the
    rssparse output contract over RFC 4287 input."""
    doc = content.decode("utf-8", errors="replace")
    podcast = _new_podcast(url)
    episodes: List[Dict] = []
    episode: Optional[Dict] = None
    in_author = False
    tag = ""
    saw_feed = False
    published_seen = False

    def check_url(text: str) -> None:
        if config.validate_urls and not validate_url(text):
            raise FeedParseError(
                KIND_INVALID_ATOM, f"Invalid link URL: {text}", url
            )

    def handle_link(attrs) -> None:
        nonlocal episode
        rel = _attr(attrs, "rel") or "alternate"
        href = _attr(attrs, "href")
        if href is None:
            return
        if rel == "alternate":
            check_url(href)
            if episode is None:
                podcast["link"] = href
            else:
                episode["link"] = href
        elif rel == "enclosure" and episode is not None:
            normalized = _enclosure_url(href)
            check_url(normalized)
            episode["enclosure_url"] = normalized
            mime = _attr(attrs, "type")
            if mime is not None:
                episode["enclosure_type"] = mime
            length = _attr(attrs, "length")
            if length is not None:
                try:
                    episode["enclosure_length"] = int(length)
                except ValueError:
                    pass

    try:
        for ev in scan(doc):
            if ev.kind == "start":
                name = ev.name
                if name == "feed":
                    saw_feed = True
                elif name == "entry":
                    episode = _new_episode()
                    published_seen = False
                elif name == "author":
                    in_author = True
                elif name == "link":
                    handle_link(ev.attrs)
                tag = name
            elif ev.kind == "end":
                if ev.name == "entry" and episode is not None:
                    if not episode["title"]:
                        raise FeedParseError(
                            KIND_INVALID_ATOM, "entry missing title", url
                        )
                    episodes.append(episode)
                    episode = None
                elif ev.name == "author":
                    in_author = False
                tag = ""
            elif ev.kind in ("text", "cdata"):
                raw = ev.text
                text = (
                    raw if ev.kind == "cdata" else xml_unescape(raw)
                ).strip()
                if not text:
                    continue
                if episode is None:
                    if in_author and tag == "name":
                        podcast["author"] = text
                    elif tag == "logo":
                        check_url(text)
                        podcast["image_url"] = text
                    elif tag == "icon" and podcast["image_url"] is None:
                        check_url(text)
                        podcast["image_url"] = text
                    elif tag in _FEED_TEXT:
                        podcast[_FEED_TEXT[tag]] = text
                else:
                    if tag == "published":
                        episode["pub_date"] = parse_date(text)
                        published_seen = True
                    elif tag == "updated" and not published_seen:
                        episode["pub_date"] = parse_date(text)
                    elif tag in _ENTRY_TEXT:
                        episode[_ENTRY_TEXT[tag]] = text
    except (XmlScanError, XmlEscapeError) as exc:
        raise FeedParseError(KIND_INVALID_ATOM, str(exc), url) from exc

    if not saw_feed:
        raise FeedParseError(KIND_INVALID_ATOM, "no <feed> root", url)
    if not podcast["title"]:
        raise FeedParseError(KIND_INVALID_ATOM, "feed missing title", url)
    return podcast, episodes
