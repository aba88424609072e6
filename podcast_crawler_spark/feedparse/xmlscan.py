"""Tolerant XML event scanner.

A from-scratch Python event scanner whose *observable behavior* matches what
the reference parser sees from quick_xml 0.31 with
``expand_empty_elements(true)`` (reference: ``/root/reference/src/
crawler_refactor/rss.rs:177-236``).  The quirks we must reproduce
(SURVEY.md §2.3 P1/P11/P12):

* **Attribute values are returned raw** — no entity unescaping.  quick_xml
  only unescapes attributes on demand, and the reference reads the raw value
  (``rss.rs:371-373``), so ``text="Society &amp; Culture"`` keeps the literal
  ``&amp;`` and a *bare* ``&`` inside an attribute value (ximalaya.xml:60)
  is tolerated.
* **Empty elements are expanded**: ``<enclosure .../>`` yields a ``start``
  followed immediately by an ``end`` event.
* **Text vs CDATA are distinct events**.  Text content is returned raw
  (entities NOT decoded here — the consumer calls :func:`xml_unescape`,
  mirroring ``BytesText::unescape`` at ``rss.rs:297``).  CDATA content is
  returned verbatim.
* **End-tag name checking** is on (quick_xml 0.31 default): a mismatched
  close tag is a scan error, surfaced with the buffer position like
  ``rss.rs:224-232``.

**Tokenizer.** One compiled regex (``_TOKEN``) splits the document into
text runs, text-only elements (``<name>text</name>``, three events from
one match), start tags (name, raw attribute span, self-closing slash), end
tags, CDATA sections and skipped markup (comments, processing
instructions, declarations); ``re.finditer`` walks it in one pass, so no
Python code runs per character.  Attributes of a matched start tag are
split by a second regex over the tag's attribute span.  Any ``<`` the
token patterns cannot match is malformed: only then does
``_markup_error`` walk that one piece of markup character by character
to name the error and its position exactly as quick_xml-style strict
scanning would.  Events are :class:`XmlEvent` named tuples.

This module is pure Python with no Spark dependency so the golden tests can
run it standalone; at scale it executes inside Arrow-batched ``mapInArrow``
workers (one call per feed, thousands of feeds per batch).
"""

from __future__ import annotations

import re
from typing import Iterator, List, NamedTuple, Tuple


class XmlScanError(Exception):
    """Malformed-XML error with a buffer position (char offset)."""

    def __init__(self, message: str, pos: int):
        super().__init__(f"Error at position {pos}: {message}")
        self.message = message
        self.pos = pos


class XmlEscapeError(Exception):
    """Invalid entity reference during text unescape."""


class XmlEvent(NamedTuple):
    kind: str  # 'start' | 'end' | 'text' | 'cdata' | 'eof'
    name: str = ""
    attrs: Tuple[Tuple[str, str], ...] = ()
    text: str = ""


_WS = " \t\r\n"
_NAME_END = set(_WS) | {">", "/", "="}

# Token patterns, one alternative per markup kind.  The alternatives for a
# '<' are told apart by its next characters, except that a text-only
# element is tried before the start tag it begins with.  Names and
# attribute keys run up to whitespace, '>', '/' or '='; the possessive
# quantifiers stop a name from backtracking into a key.
_W = r"[ \t\r\n]"
_N = r"[^ \t\r\n>/=]"
_TOKEN = re.compile(
    r"([^<]+)"  # 1 text
    # an element holding only text, <name>text</name>: 3 events, 1 match
    rf"|<(?![!?/])({_N}++)>([^<]*+)</\2>"  # 2 name, 3 text (maybe empty)
    rf"|<(?![!?/])({_N}++)"  # 4 start tag name
    rf"((?:{_W}*+{_N}++{_W}*+={_W}*+(?:\"[^\"]*+\"|'[^']*+'))*+)"  # 5 attrs
    rf"{_W}*+(/?)>"  # 6 self-closing slash
    r"|</([^>]*)>"  # 7 end tag name, unstripped
    r"|(<!\[CDATA\[.*?\]\]>)"  # 8 CDATA section
    r"|<(?:!--.*?--|\?.*?\?|!(?!--|\[CDATA\[)[^>]*)>"  # skipped markup
    r"|(<)",  # 9 malformed markup
    re.S,
)
_ATTR = re.compile(rf"{_W}*({_N}+){_W}*={_W}*(?:\"([^\"]*)\"|'([^']*)')")
_TEXT, _ELEMENT, _START, _END, _CDATA, _BAD = 1, 3, 6, 7, 8, 9  # Match.lastindex

_new = tuple.__new__  # builds an XmlEvent without the Python-level __new__
_EOF = XmlEvent("eof")

_ENTITY_RE = re.compile(r"&(?:(#x[0-9a-fA-F]+|#[0-9]+|[A-Za-z][A-Za-z0-9]*);)?")
_BUILTIN_ENTITIES = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}


def _entity(m: "re.Match[str]") -> str:
    body = m.group(1)
    if body is None:
        raise XmlEscapeError(f"invalid entity reference at offset {m.start()}")
    if body.startswith("#"):
        code = int(body[2:], 16) if body[1] == "x" else int(body[1:])
        # a surrogate or a code point past U+10FFFF is no character
        if code > 0x10FFFF or 0xD800 <= code <= 0xDFFF:
            raise XmlEscapeError(
                f"invalid character reference '&{body};' at offset {m.start()}"
            )
        return chr(code)
    rep = _BUILTIN_ENTITIES.get(body)
    if rep is None:
        raise XmlEscapeError(f"unknown entity '&{body};' at offset {m.start()}")
    return rep


def xml_unescape(text: str) -> str:
    """Decode the five predefined XML entities plus numeric references.

    Unknown named entities, a dangling ``&`` or a numeric reference to a
    surrogate or past U+10FFFF raise :class:`XmlEscapeError`,
    matching quick_xml's strict ``unescape`` used for Text events
    (``rss.rs:297-304`` turns this into a feed-level parse failure).
    Text without ``&`` is returned unchanged.
    """
    if "&" not in text:
        return text
    return _ENTITY_RE.sub(_entity, text)


def scan(doc: str) -> Iterator[XmlEvent]:
    """Iterate the XML events of *doc*; raise :class:`XmlScanError` on
    malformed markup.  Empty elements are expanded to start+end pairs.

    The document is tokenized in one pass up front (memory O(events));
    the error, if any, is raised when iteration reaches the malformed
    markup, after every event before it, as a lazy scan would."""
    events: List[XmlEvent] = []
    try:
        _tokenize(doc, events)
    except XmlScanError as exc:
        return _then_raise(events, exc)
    return iter(events)


def _then_raise(events: List[XmlEvent], exc: XmlScanError) -> Iterator[XmlEvent]:
    yield from events
    raise exc


def _tokenize(doc: str, out: List[XmlEvent]) -> None:
    """Append the events of *doc* to *out* up to its first malformed markup,
    then raise that markup's :class:`XmlScanError`."""
    add, new, event = out.append, _new, XmlEvent
    stack: List[str] = []
    for m in _TOKEN.finditer(doc):
        k = m.lastindex
        if k == _TEXT:
            add(new(event, ("text", "", (), m[1])))
        elif k == _ELEMENT:
            name, text = m.group(2, 3)
            add(new(event, ("start", name, (), "")))
            if text:
                add(new(event, ("text", "", (), text)))
            add(new(event, ("end", name, (), "")))
        elif k == _START:
            name, raw, slash = m.group(4, 5, 6)
            attrs = ()
            if raw:
                attrs = tuple([(a, b or c) for a, b, c in _ATTR.findall(raw)])
                if len(attrs) > 1 and len(dict(attrs)) < len(attrs):
                    raise _markup_error(doc, m.start())  # duplicate key
            add(new(event, ("start", name, attrs, "")))
            if slash:
                add(new(event, ("end", name, (), "")))
            else:
                stack.append(name)
        elif k == _END:
            name = m[7].strip(_WS)
            if not stack:
                raise XmlScanError(
                    f"close tag </{name}> with no open element", m.start()
                )
            expected = stack.pop()
            if name != expected:
                raise XmlScanError(
                    f"expected </{expected}>, found </{name}>", m.start()
                )
            add(new(event, ("end", name, (), "")))
        elif k == _CDATA:
            add(new(event, ("cdata", "", (), m[8][9:-3])))
        elif k == _BAD:
            raise _markup_error(doc, m.start())
    add(_EOF)


def _markup_error(doc: str, i: int) -> XmlScanError:
    """The error for the markup at ``doc[i] == '<'``, which is malformed or
    a start tag with a repeated attribute key."""
    if doc.startswith("<!--", i):
        return XmlScanError("unterminated comment", i)
    if doc.startswith("<![CDATA[", i):
        return XmlScanError("unterminated CDATA", i)
    if doc.startswith("<!", i):
        return XmlScanError("unterminated markup declaration", i)
    if doc.startswith("<?", i):
        return XmlScanError("unterminated processing instruction", i)
    if doc.startswith("</", i):
        return XmlScanError("unterminated end tag", i)
    return _start_tag_error(doc, i)


def _start_tag_error(doc: str, start: int) -> XmlScanError:
    """Walk the start tag at *start* one character at a time and return the
    first error in it, with its position."""
    n = len(doc)
    i = j = start + 1  # past '<'
    while j < n and doc[j] not in _NAME_END:
        j += 1
    if j == i:
        return XmlScanError("empty tag name", start)
    i = j
    seen_keys = set()
    while True:
        while i < n and doc[i] in _WS:
            i += 1
        if i >= n:
            return XmlScanError("unterminated start tag", start)
        if doc[i] == ">" or doc.startswith("/>", i):
            # the token pattern accepts every tag this walk accepts
            raise RuntimeError(f"start tag at {start} has no error")
        if doc[i] == "/":
            return XmlScanError("stray '/' in start tag", i)
        j = i
        while j < n and doc[j] not in _NAME_END:
            j += 1
        key = doc[i:j]
        if not key:
            return XmlScanError("malformed attribute", i)
        i = j
        while i < n and doc[i] in _WS:
            i += 1
        if i >= n or doc[i] != "=":
            return XmlScanError(f"attribute '{key}' without value", i)
        i += 1
        while i < n and doc[i] in _WS:
            i += 1
        if i >= n or doc[i] not in "\"'":
            return XmlScanError(f"unquoted value for attribute '{key}'", i)
        end = doc.find(doc[i], i + 1)
        if end == -1:
            return XmlScanError(f"unterminated value for attribute '{key}'", i)
        if key in seen_keys:
            return XmlScanError(f"duplicate attribute '{key}'", i)
        seen_keys.add(key)
        i = end + 1
