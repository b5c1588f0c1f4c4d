"""Mention-detection taggers: regex scans over a single text.

Each tagger maps ``text → list[Annotation(start, value, tag)]``; the Spark
operator layer applies them in Arrow-batched pandas UDFs.

Semantics follow the reference:
  * RegExTagger (incl. NBSP→space pre-clean) — extraction/entity/RegExTagger.java:15-40,
    helper/nlp/StringHelper.java:638-640
  * StringTagger (the English entity-candidate detector; golden spans in
    StringTaggerTest.java:14-233) — extraction/entity/StringTagger.java:25-77
  * UrlTagger — extraction/entity/UrlTagger.java:13-24
  * DateAndTimeTagger — extraction/entity/DateAndTimeTagger.java:25-59
    (regex-set based; we implement the common date shapes directly rather
    than the full DateParser state machine)
  * SmileyTagger / TwitterTagger — extraction/entity/SmileyTagger.java,
    TwitterTagger.java:12-22
  * date fragments — helper/constants/RegExp.java:320
"""

from __future__ import annotations

import re as _stdlib_re
from functools import lru_cache
from typing import List, NamedTuple, Optional

import regex

CANDIDATE_TAG = "CANDIDATE"
URI_TAG = "URI"
DATETIME_TAG = "DATETIME"
SMILEY_TAG = "SMILEY"
NO_ENTITY = "###NO_ENTITY###"


class Annotation(NamedTuple):
    start: int
    value: str
    tag: str

    @property
    def end(self) -> int:
        return self.start + len(self.value)


def _replace_protected_space(text: str) -> str:
    """NBSP (U+00A0) → plain space (StringHelper.java:638-640).
    Containment check first — the replace would copy the string on
    every scan of every turn otherwise."""
    if " " in text:
        return text.replace(" ", " ")
    return text


def regex_tag(text: str, pattern: "regex.Pattern", tag: str) -> List[Annotation]:
    """Generic scan: every match → Annotation (RegExTagger.java:31-40)."""
    clean = _replace_protected_space(text)
    return [Annotation(m.start(), m.group(), tag) for m in pattern.finditer(clean)]


# ---------------------------------------------------------------------------
# StringTagger — the English entity-candidate regex (StringTagger.java:25-77).
# Ported branch by branch; the branch ORDER is part of the contract (Java
# regex alternation is leftmost/first-branch).  `regex` module is required
# for \p{Ll} and the variable-width (?<=(Inc|Corp|Co|Ave)) lookbehind.
# ---------------------------------------------------------------------------

_CAMEL_CASE_WORDS = r"(GmbH|LLC)"
_SUFFIXES = r"((?<=(Inc|Corp|Co|Ave))\.)?"

STRING_TAGGER_REGEX = (
    # dashes ("Ontario-based", "St. Louis-based")
    r"([A-Z][a-z]\. )?([A-Z]{1}[A-Za-z\p{Ll}]+(-[a-z\p{Ll}]+)(-[A-Za-z\p{Ll}]+)*)"
    r"|"
    # initials: A. Anderson
    r"([A-Z]\.)( )?[A-Z]{1}['’A-Za-z\p{Ll}]{1,100}"
    r"|"
    # Alexander A. Anderson, Mayor Bobby E. Horton
    r"([A-Z][a-z\p{Ll}]+ ){1,2}[A-Z]{1}\. [A-Za-z\p{Ll}]{1,100}"
    r"|"
    # honorifics: Dr. Anderson Emeraldy
    r"([A-Z][a-z\p{Ll}]{0,2}\.) [A-Z]{1}[A-Za-z\p{Ll}]{1,100}( [A-Z]{1}[A-Za-z\p{Ll}]{1,100})?"
    r"|"
    # A.B.C. Anderson00 Anderson12 Emeraldy
    r"([A-Z]\.)+( ([A-Z]{1}([A-Za-z-\p{Ll}0-9&]+))+(([ ])*[A-Z]+([A-Za-z-\p{Ll}0-9]*)){0,10})*"
    r"|"
    # ending with dash ("Real- Rumble" → two matches)
    r"([A-Z][A-Za-z\p{Ll}]+ )*[A-Z][A-Za-z\p{Ll}]+(?=-+? )"
    r"|"
    # small with dash (ex-President, al-Rama)
    r"([A-Z][A-Za-z\p{Ll}]+ )?([a-z\p{Ll}]+-[A-Z][A-Za-z\p{Ll}0-9]+)"
    r"|"
    # X Y of Z / X of Y Z ("National Bank of Scotland", "L’Arc de Triomphe")
    r"(([A-Z]{1}['’]?[A-Za-z\p{Ll}]+ )+(?:of|de) (([A-Z]{1}[A-Za-z-\p{Ll}]+)"
    r"(?!([a-z-]{0,20}\s[A-Z]))))|([A-Z]{1}[A-Za-z-\p{Ll}]+ of( [A-Z]{1}[A-Za-z\p{Ll}]+){1,})"
    r"|"
    # capitalized word sequences (mixed-camel-case split: "Veronica Swenston VENICE" → 2)
    r"([A-Z]{1}([a-z-\p{Ll}0-9®]+)(( " + _CAMEL_CASE_WORDS +
    r")?(([ &])*([A-Z]['’])?[A-Z]{1}([a-z-\p{Ll}0-9®]+))?)*)" + _SUFFIXES +
    r"|"
    # O'Sullivan, D&G, ALL-CAPS runs
    r"((([A-Z]{1}([A-Za-z-\p{Ll}0-9&]+|['’][A-Z][A-Za-z]{2,20}))+"
    r"(([ &])*[A-Z]+(['’][A-Z])?([A-Za-z-\p{Ll}0-9®]*)){0,10})(?!(\.[A-Z])+))" + _SUFFIXES +
    r"|"
    # camel case (iPhone 4)
    r"([a-z][A-Z][A-Za-z0-9]+( [A-Z0-9][A-Za-z0-9]{0,20}){0,20})"
)

_STRING_TAGGER_PATTERN = regex.compile(STRING_TAGGER_REGEX)


def tag_candidates(text: str) -> List[Annotation]:
    """English entity candidates, tag=CANDIDATE."""
    return regex_tag(text, _STRING_TAGGER_PATTERN, CANDIDATE_TAG)


# ---------------------------------------------------------------------------
# URL tagger (UrlHelper.java:95-98 pattern shape with a compact TLD set)
# ---------------------------------------------------------------------------

_TLDS = (
    "com|org|net|int|edu|gov|mil|io|ai|co|de|fr|uk|au|ca|cn|jp|ru|ch|at|nl|be"
    "|es|it|se|no|dk|fi|pl|cz|eu|us|info|biz|name|mobi|dev|app|cloud|tech"
)
URL_REGEX = (
    r"\b(?:https?://)?([0-9a-zäöü-]{1,63}?\.)+(?:" + _TLDS + r")"
    r"(?:[?/](?:\([^\s()<>\[\]\"']{0,255}\)|[^\s()<>\[\]\"']{0,255})+"
    r"(?:\([^\s()<>\[\]\"']{0,255}\)|[^\s.,;!?:()<>\[\]\"'])|/|\b)"
)
_URL_PATTERN = regex.compile(URL_REGEX, regex.IGNORECASE)

# sound prefilter: every URL match contains a label dot followed directly
# by a label/TLD character, so text without `.x` can skip the (expensive)
# full URL alternation — a sentence-final "word." never qualifies
_URL_PREFILTER = _stdlib_re.compile(r"\.[0-9a-zäöü-]", _stdlib_re.IGNORECASE)


def tag_urls(text: str) -> List[Annotation]:
    if not _URL_PREFILTER.search(text):
        return []
    return regex_tag(text, _URL_PATTERN, URI_TAG)


# ---------------------------------------------------------------------------
# Date & time tagger.  The reference funnels ~40 DateFormat regexes through
# DateParser.findDates (RegExp.ALL_DATE_FORMATS); we cover the formats its
# sentence masking and NER date handling rely on.
# ---------------------------------------------------------------------------

_MONTH_SHORT = (
    r"[Jj]an|[Ff]eb|[Mm]ar|[Aa]pr|[Mm]ay|[Jj]un|[Jj]ul|[Aa]ug|[Ss]ep|[Ss]ept"
    r"|[Oo]ct|[Nn]ov|[Dd]ec|JAN|FEB|MAR|APR|MAY|JUN|JUL|AUG|SEP|SEPT|OCT|NOV|DEC"
)
_MONTH_LONG = (
    r"[Jj]anuary|[Ff]ebruary|[Mm]arch|[Aa]pril|[Mm]ay|[Jj]une|[Jj]uly|[Aa]ugust"
    r"|[Ss]eptember|[Oo]ctober|[Nn]ovember|[Dd]ecember"
    r"|JANUARY|FEBRUARY|MARCH|APRIL|MAY|JUNE|JULY|AUGUST|SEPTEMBER|OCTOBER|NOVEMBER|DECEMBER"
)
_WEEKDAY_SHORT = r"Mon|Tue|Wed|Thu|Fri|Sat|Sun"
_WEEKDAY_LONG = r"(?:Mon|Tues|Wednes|Thurs|Fri|Satur|Sun)day"

# helper/constants/RegExp.java:320 — the four fragment families used by
# isDateFragment / removeDateFragment.
DATE_FRAGMENTS = [_MONTH_SHORT, _MONTH_LONG, _WEEKDAY_SHORT, _WEEKDAY_LONG]

# precompiled forms (the kernels run per mention — pattern-cache lookups on
# these long alternation strings dominate otherwise)
_FRAGMENT_SUB = [regex.compile(f) for f in DATE_FRAGMENTS]
_FRAGMENT_BEGIN = [regex.compile(r"^(?:" + f + r")\.? ") for f in DATE_FRAGMENTS]
_FRAGMENT_END = [regex.compile(r" (?:" + f + r")\.?$") for f in DATE_FRAGMENTS]
# one-scan prefilter: every begin/end/sub pattern above requires SOME
# fragment word, so a value with no fragment anywhere can skip all eight
# family scans (the fragment rules run per mention — this is ~25% of the
# whole NER kernel on fragment-free corpora)
_FRAGMENT_ANY = regex.compile("|".join(DATE_FRAGMENTS))

_MONTH_ANY = r"(?:" + _MONTH_LONG + r"|" + _MONTH_SHORT + r"\.?)"
DATE_REGEX = (
    r"\d{4}-\d{2}-\d{2}(?:[ T]\d{2}:\d{2}(?::\d{2})?)?"      # ISO 8601
    r"|\d{1,2}\.\d{1,2}\.\d{2,4}"                             # EU d.m.y
    r"|\d{1,2}/\d{1,2}/\d{2,4}"                               # US m/d/y
    r"|" + _MONTH_ANY + r" \d{1,2}(?:st|nd|rd|th)?,? \d{4}"  # March 16, 2009
    r"|\d{1,2}(?:st|nd|rd|th)? " + _MONTH_ANY + r",? \d{4}"  # 16 March 2009
    r"|" + _MONTH_ANY + r" \d{4}"                             # March 2009
    r"|" + _MONTH_ANY + r" \d{1,2}(?:st|nd|rd|th)?\b(?!,? \d{4})"  # March 16
)
_DATE_PATTERN = regex.compile(DATE_REGEX)

# cheap sound pre-filter: EVERY branch of DATE_REGEX requires either a
# digit[./-:]digit pair (numeric formats) or a month word — texts without
# either can skip the expensive alternation (it is ~70% of all per-turn
# regex cost).  IGNORECASE makes it a strict superset of the real pattern.
_DATE_PREFILTER = _stdlib_re.compile(
    r"\d[./\-:]\d|jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec",
    _stdlib_re.IGNORECASE)


def tag_dates(text: str) -> List[Annotation]:
    if not _DATE_PREFILTER.search(text):
        return []
    return regex_tag(text, _DATE_PATTERN, DATETIME_TAG)


# ---------------------------------------------------------------------------
# Smiley tagger
# ---------------------------------------------------------------------------

_SMILEY_PATTERN = regex.compile(
    "|".join(regex.escape(s) for s in [":)", ":-)", ";)", ";-)", ":(", ":-(", ";(", ";-("])
)


def tag_smileys(text: str) -> List[Annotation]:
    # every smiley starts with ':' or ';' — C-level containment prefilter
    if ":" not in text and ";" not in text:
        return []
    return regex_tag(text, _SMILEY_PATTERN, SMILEY_TAG)


# ---------------------------------------------------------------------------
# date-fragment helpers (PalladianNer.java:670-693, 812-849)
# ---------------------------------------------------------------------------

@lru_cache(maxsize=131072)
def is_date_fragment(value: str) -> bool:
    """True iff the value consists entirely of date fragments
    (PalladianNer.java:812-819).  Pure in ``value`` — memoized, because the
    NER kernel calls it once per candidate and surface forms repeat heavily
    across a corpus (the fragment scans were ~15% of kernel CPU before)."""
    if not _FRAGMENT_ANY.search(value):
        # no fragment word at all: entirely-fragments is only possible for
        # an all-whitespace value (sub of nothing leaves it unchanged)
        return not value.strip()
    for frag in _FRAGMENT_SUB:
        if not frag.sub(" ", value).strip():
            return True
    return False


@lru_cache(maxsize=131072)
def _strip_date_fragments(value: str) -> Optional[tuple]:
    """Value-level core of ``remove_date_fragment``: returns
    ``(new_value, offset_shift)`` or None when nothing changes.  Pure in
    ``value`` so it can be memoized; the caller re-applies the shift to the
    annotation's own offset."""
    if not _FRAGMENT_ANY.search(value):
        return None  # no fragment word → begin/end patterns cannot match
    new_value = value
    shift = 0
    for begin_re, end_re in zip(_FRAGMENT_BEGIN, _FRAGMENT_END):
        text_len = len(new_value)
        if begin_re.search(new_value):
            new_value = begin_re.sub(" ", new_value).strip()
            shift += text_len - len(new_value)
        if end_re.search(new_value):
            new_value = end_re.sub(" ", new_value).strip()
    if new_value == value:
        return None
    return (new_value, shift)


def remove_date_fragment(ann: Annotation) -> Optional[Annotation]:
    """Strip leading/trailing date words, fixing the offset
    (PalladianNer.java:828-849).  Returns None when nothing changed.
    Golden offsets: PalladianNerTest.java:19-36."""
    stripped = _strip_date_fragments(ann.value)
    if stripped is None:
        return None
    new_value, shift = stripped
    return Annotation(ann.start + shift, new_value, ann.tag)


# ---------------------------------------------------------------------------
# interval utilities (Annotations.java:43-65)
# ---------------------------------------------------------------------------

def sort_annotations(anns: List[Annotation]) -> List[Annotation]:
    """Total order by (start asc, end desc — longer first) (AbstractToken.java:5-13)."""
    return sorted(anns, key=lambda a: (a.start, -a.end))


def remove_nested(anns: List[Annotation]) -> List[Annotation]:
    """Single sweep keeping the earliest-starting, longest spans
    (Annotations.java:43-56)."""
    out: List[Annotation] = []
    last_end = 0
    for ann in sort_annotations(anns):
        if ann.start < last_end:
            continue
        out.append(ann)
        last_end = ann.end
    return out
