"""Clinical-note text extraction (SURVEY §2.3 P14, §2.8).

The reference pulls inline base64 attachment text per row for BOTH note
resource types — DocumentReference's ``content[].attachment`` and
DiagnosticReport's ``presentedForm[]`` (bare Attachments) —
(etl/tasks/nlp_task.py:136-151 via cfs.get_text_from_note_res) and
errors on remote-only attachments. Expressed as unbase64 + contentType
dispatch — pure Catalyst; mixed multi-type frames dispatch per row on
``resourceType``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cumulus_etl_spark.functions import sql_ident, sql_str

TEXT_CONTENT_TYPES = ("text/plain", "text/html", "application/xhtml+xml")


def extract_note_text(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Add ``note_text`` (decoded inline text) and ``note_missing_reason``.

    Picks the first attachment with inline data and a text content type;
    rows whose attachments are all remote (url-only) get a reason instead
    of a silent null. HTML tags are stripped with a regex (the reference
    uses inscriptis; divergence documented). Attachments come from
    ``content[].attachment`` (DocumentReference) or ``presentedForm[]``
    (DiagnosticReport) — whichever the frame carries, per row when it
    carries both.
    """
    from_content = (
        f"transform({sql_ident(content_col)}, __c -> __c.attachment)"
        if content_col in df.columns
        else None
    )
    from_pf = "presentedForm" if "presentedForm" in df.columns else None
    if from_content is not None and from_pf is not None:
        atts = f"CASE WHEN resourceType = 'DiagnosticReport' THEN {from_pf} ELSE {from_content} END"
    elif from_pf is not None:
        atts = from_pf
    elif from_content is not None:
        atts = from_content
    else:
        raise ValueError(
            f"no {content_col!r} or 'presentedForm' column in the notes frame"
        )

    text_types = ", ".join(sql_str(t) for t in TEXT_CONTENT_TYPES)
    att = F.expr(
        f"filter({atts}, __a -> __a.data IS NOT NULL"
        f" AND substring_index(__a.contentType, ';', 1) IN ({text_types}))"
    )
    first = F.element_at(att, 1)
    decoded = F.unbase64(first["data"]).cast("string")
    is_html = F.substring_index(first["contentType"], ";", 1).isin(
        "text/html", "application/xhtml+xml"
    )
    text = F.when(is_html, F.regexp_replace(decoded, r"<[^>]+>", " ")).otherwise(decoded)
    any_remote = F.expr(f"exists({atts}, __a -> __a.url IS NOT NULL AND __a.data IS NULL)")
    reason = F.when(F.size(att) > 0, F.lit(None).cast("string")).otherwise(
        F.when(any_remote, F.lit("remote-only attachment")).otherwise(F.lit("no text attachment"))
    )
    return df.withColumn("note_text", F.when(F.size(att) > 0, text)).withColumn(
        "note_missing_reason", reason
    )


def note_checksum(text_col: Column | str = "note_text") -> Column:
    """Content checksum used as the NLP cache key (ref nlp/utils.py:93-94)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.sha2(c, 256)
