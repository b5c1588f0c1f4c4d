"""Context-window helpers around annotations (NerHelper.java:244-307).

These windows feed the context dictionary (±40-char classification), the
leftContexts boundary fixer, and the relation-extraction pattern features.
"""

from __future__ import annotations

import re
from typing import List

from palladian_spark.textproc.taggers import Annotation

WINDOW_SIZE = 40  # PalladianNerTrainingSettings.java:88


def get_left_contexts(ann: Annotation, text: str, size: int = 3) -> List[str]:
    """Cumulative 1..size word windows left of the annotation, digits → '§'
    (NerHelper.java:244-264).  Golden: PalladianNerTest.java:38-47."""
    contexts: List[str] = []
    if len(text) < ann.start:
        return contexts
    buf: List[str] = []  # accumulates characters right-to-left
    for idx in range(ann.start - 1, -1, -1):
        ch = text[idx]
        buf.append(ch)
        if ch == " " or idx == 0:
            value = re.sub(r"\d", "§", "".join(buf).strip())
            if value:
                contexts.append(value[::-1])  # restore reading order
        if len(contexts) == size:
            break
    return contexts


def get_character_context(ann: Annotation, text: str,
                          size: int = WINDOW_SIZE) -> str:
    """left40.trim() + "__" + right40.trim() (NerHelper.java:300-307)."""
    left = text[max(0, ann.start - size):ann.start].strip()
    right = text[ann.end:min(len(text), ann.end + size)].strip()
    return left + "__" + right
