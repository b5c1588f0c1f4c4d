"""Distributed DateAndTimeTagger: the full 42-format DateParser port
(textproc/dates.py) applied per turn in one Arrow pass.

Reference: extraction/entity/DateAndTimeTagger.java:43-59 over
RegExp.ALL_DATE_FORMATS + DATE_CONTEXT_YYYY.  Both stages are
``turn_stage`` kernels (operators/mentions.py), which owns the scan
plumbing (parallelism, null text, batching); the 42 compiled patterns
live once per Python worker (module-level compile cache in
textproc/dates.py).  The tagger emits (value, fmt, m_start) per mention,
the normalized variant appends the DateParserLogic calendar fields
(textproc/date_logic.py).  A cheap JVM-side prefilter would be unsound:
the 42 formats include bare YYYYWW/YYYYDDD digit runs, so any text
containing 4+ digits is a candidate — which in transcripts is nearly
everything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from palladian_spark.operators.mentions import turn_stage
from palladian_spark.textproc.date_logic import parse_date
from palladian_spark.textproc.dates import find_date_formats

DATES_SCHEMA = ("conv_id string, turn_idx int, value string, fmt string, "
                "m_start int")

DATES_NORM_SCHEMA = (
    "conv_id string, turn_idx int, value string, fmt string, m_start int, "
    "year int, month int, day int, hour int, minute int, second int, "
    "tz string")


def tag_datetimes_df(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, value, fmt, m_start) for every date occurrence."""
    return turn_stage(transcripts, DATES_SCHEMA, lambda: find_date_formats)


def tag_datetimes_normalized_df(transcripts: DataFrame,
                                context_year: int) -> DataFrame:
    """tag_datetimes_df + the DateParserLogic normalization half
    (textproc/date_logic.py): every DATETIME mention carries typed
    (year, month, day, hour, minute, second, tz) fields, nulls where the
    format has no such part.  Same single Arrow pass — the
    parse is a per-mention dict dispatch, negligible next to the
    42-regex scan.  ``context_year`` pins two-digit-year folding so
    results are deterministic (the reference uses the wall clock:
    DateParserLogic.java:573-582)."""
    def kernel(text: str):
        for value, fmt, idx in find_date_formats(text):
            parts = parse_date(value, fmt, context_year)
            if parts is None:
                yield (value, fmt, idx) + (None,) * 7
            else:
                yield (value, fmt, idx, parts.year, parts.month,
                       parts.day, parts.hour, parts.minute, parts.second,
                       parts.timezone)

    return turn_stage(transcripts, DATES_NORM_SCHEMA, lambda: kernel)
