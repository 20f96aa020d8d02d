"""Sinks — SURVEY.md section 2.1 K1-K5 as DataFrame writers.

Most sinks ARE the built-in writers (json/csv/parquet/partitionBy); this
module adds the one the reference hand-rolls: the XML emitter
(cli.py:651-695 builds <paper> elements with CDATA captions). No
spark-xml package is assumed: each row renders to one XML element STRING
via native column expressions (escape + CDATA handling inside
whole-stage codegen, zero Python), written with ``df.write.text`` — one
element per line, the streaming-friendly "XML lines" shape. A rooted
single-document file is a driver-side concat for bounded extracts only;
at warehouse scale a 100 TB result cannot be one rooted document.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# XML name production (ASCII NCName subset): tag names come from Spark
# column names, which allow ANYTHING via backticks ('2col', 'a b',
# 'x<y') — interpolating those into <{name}> silently emits a file no
# XML parser accepts. Validated loudly instead.
_XML_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9._-]*$")


def _check_tag(name: str) -> str:
    if not _XML_NAME.match(name):
        raise ValueError(
            f"{name!r} is not a valid XML tag name; rename the column "
            f"(or pass cols=) — Spark identifiers allow characters XML "
            f"element names do not")
    return name


def _xml_escape(c: Column) -> Column:
    """&, <, >, \" escaping for text/attribute content (order matters:
    & first; the quote escape makes the same helper safe for attribute
    values)."""
    c = F.regexp_replace(c, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    c = F.regexp_replace(c, ">", "&gt;")
    return F.regexp_replace(c, "\"", "&quot;")


def _cdata(c: Column) -> Column:
    """CDATA-wrap free text (cli.py:668 style). A literal ']]>' inside the
    text would terminate the section early, so it is split across two
    CDATA sections — the standard ']]]]><![CDATA[>' trick."""
    safe = F.regexp_replace(c, "]]>", "]]]]><![CDATA[>")
    return F.concat(F.lit("<![CDATA["), safe, F.lit("]]>"))


def xml_element(df: DataFrame, row_tag: str = "record",
                cdata_cols: tuple[str, ...] = ("scrubbed_caption",),
                cols: list[str] | None = None) -> DataFrame:
    """Append an ``xml`` string column: one <row_tag> element per row with
    one child element per selected column (reference shape: <paper><pmid>
    ... cli.py:656-676). NULL values render as a self-closed empty tag."""
    cols = cols or [c for c, t in df.dtypes if t != "binary"]
    _check_tag(row_tag)
    for name in cols:
        _check_tag(name)
    parts: list[Column] = [F.lit(f"<{row_tag}>")]
    for name in cols:
        body = (_cdata(F.col(name).cast("string")) if name in cdata_cols
                else _xml_escape(F.col(name).cast("string")))
        parts.append(
            F.when(F.col(name).isNull(), F.lit(f"<{name}/>"))
            .otherwise(F.concat(F.lit(f"<{name}>"), body,
                                F.lit(f"</{name}>"))))
    parts.append(F.lit(f"</{row_tag}>"))
    return df.withColumn("xml", F.concat(*parts))


def write_xml(df: DataFrame, path: str, row_tag: str = "record") -> None:
    """Distributed XML sink: one element per output line (K3)."""
    xml_element(df, row_tag).select("xml").write.text(path)


# Row cap of a rooted document: collecting an unbounded result to the
# driver is exactly what this engine avoids.
ROOTED_XML_MAX_ROWS = 10_000


def rooted_xml_string(df: DataFrame,
                      cdata_cols: tuple[str, ...] = ("scrubbed_caption",)
                      ) -> str:
    """Single rooted ``<records>`` document of ``<record>`` elements for
    bounded extracts (the reference writes whole files this way,
    cli.py:752-796), capped at ROOTED_XML_MAX_ROWS rows."""
    rows = (xml_element(df.limit(ROOTED_XML_MAX_ROWS), "record", cdata_cols)
            .select("xml").collect())
    body = "\n".join(r[0] for r in rows)
    return (f"<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
            f"<records>\n{body}\n</records>")
