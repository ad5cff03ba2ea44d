"""TEI serialization of extracted span sequences (SURVEY.md §2.1 S5, §2.5 C5).

Reference: `TEIFormatter.toTEITextPiece` (TEIFormatter.java:766-973) maps
clusters to TEI elements; `FullMedicalTextParser.toTEI` (:5867-5922) wraps
them in <TEI><teiHeader/><text><body>…. Correctness in this engine is judged
on the span sequence itself (SURVEY.md §1.4), so TEI is an *optional sink
serialization*: a pure string fold over the spans array, vectorized.

Element mapping (TEIFormatter.java:807-957):
  title→<title>, section→<div><head n="1">, subsection→<head n="2">,
  paragraph→<p>, item→<list><item>, figure→<figure (+<graphic url=…)>,
  table→<figure type="table">, medic→<medic>, patient→<patient>,
  figure_marker/table_marker→<ref>, head/footnote→<note place=…>.
"""

from __future__ import annotations

import re as _re

import pandas as pd

_TAG = {
    "title": ("<title>", "</title>"),
    "section": ('<head n="1">', "</head>"),
    "subsection": ('<head n="2">', "</head>"),
    "paragraph": ("<p>", "</p>"),
    "item": ("<item>", "</item>"),
    "figure": ("<figure>", "</figure>"),
    "table": ('<figure type="table">', "</figure>"),
    "figure_marker": ('<ref type="figure">', "</ref>"),
    "table_marker": ('<ref type="table">', "</ref>"),
    "medic": ("<medic>", "</medic>"),
    "patient": ("<patient>", "</patient>"),
    "headnote": ('<note place="headnote">', "</note>"),
    "footnote": ('<note place="footnote">', "</note>"),
}


def _escape(s: pd.Series) -> pd.Series:
    return (
        s.fillna("")
        .str.replace("&", "&amp;", regex=False)
        .str.replace("<", "&lt;", regex=False)
        .str.replace(">", "&gt;", regex=False)
    )


def spans_to_tei(flat: pd.DataFrame) -> pd.DataFrame:
    """Flat spans [doc_id, kind, text, media_ref, offset] → one TEI body
    string per document. Vectorized: element strings are built column-wise,
    then folded per document with a groupby join."""
    from .cluster import group_join

    if flat.empty:
        return pd.DataFrame(columns=["doc_id", "tei"])
    d = flat.sort_values(["doc_id", "offset"], kind="stable").reset_index(
        drop=True
    )
    opens = d["kind"].map(lambda k: _TAG.get(k, (f'<note type="{k}">', ""))[0])
    closes = d["kind"].map(
        lambda k: _TAG.get(k, ("", "</note>"))[1]
    )
    # table structure (C3; core Table.toTEI / TableParser,
    # FullMedicalTextParser.java:5599-5647): a table span carries its grid
    # as newline-separated rows with tab-separated cells (body_spans
    # preserves the columnar separators). Lines WITH a cell separator render
    # as <row><cell>…</cell></row>; lines without are the caption/head.
    # Legacy 2+-space / ' | ' separated single-line input still splits.
    is_table = d["kind"].eq("table")

    def _render_table(text: str) -> str:
        lines = text.split("\n")
        heads, rows = [], []
        for ln in lines:
            cs = _re.split(r"\t+| {2,}| \| ", ln)
            if len(cs) > 1:
                rows.append(cs)
            elif ln.strip():
                heads.append(ln.strip())
        if not rows:
            return ""
        out = "".join(f"<head>{h}</head>" for h in heads)
        out += "<table>" + "".join(
            "<row>"
            + "".join(f"<cell>{c.strip()}</cell>" for c in cs)
            + "</row>"
            for cs in rows
        ) + "</table>"
        return out

    if is_table.any():
        body_tbl = _escape(d.loc[is_table, "text"]).map(_render_table)
        body_tbl = body_tbl[body_tbl.ne("")]
        if len(body_tbl):
            # replace the raw text with the structured rendering
            d = d.copy()
            d.loc[body_tbl.index, "text"] = ""
            pre_structured = pd.Series("", index=d.index)
            pre_structured.loc[body_tbl.index] = body_tbl
        else:
            pre_structured = pd.Series("", index=d.index)
    else:
        pre_structured = pd.Series("", index=d.index)
    def _attr(m) -> str:
        # attribute-escape the url: '&', '<' and the quote delimiter would
        # otherwise produce malformed XML
        if not (isinstance(m, str) and m):
            return ""
        esc = (
            m.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")
        )
        return f'<graphic url="{esc}"/>'

    graphic = d["media_ref"].map(_attr)
    elems = opens + _escape(d["text"]) + pre_structured + graphic + closes
    codes, uniques = pd.factorize(d["doc_id"])
    body = group_join(elems, codes, sep="")
    return pd.DataFrame(
        {
            "doc_id": uniques,
            "tei": [
                "<TEI><teiHeader/><text><body>" + b + "</body></text></TEI>"
                for b in body.to_pylist()
            ],
        }
    )


# ---------------------------------------------------------------------------
# A3: TEI training-corpus reader (the trainer/sax TEI*SaxParser analog —
# TEIFullMedicalTextSaxParser.java parses annotated TEI training files back
# to labeled sequences; here the engine's own TEI dialect parses back to
# labeled spans). Round-trip contract: tei_to_spans(spans_to_tei(spans))
# reproduces (kind, text, media_ref, order) exactly, except tabular table
# spans whose cell structure was rendered — those come back as
# tab-joined cell text (documented lossiness; the reference's table
# training data is likewise re-tokenized from the rendered form).
# Offline training-corpus utility: ElementTree per document, mirroring the
# reference's per-file SAX pass — NOT on the extraction hot path.
# ---------------------------------------------------------------------------

_TAG_TO_KIND = {
    "title": "title",
    "p": "paragraph",
    "item": "item",
    "medic": "medic",
    "patient": "patient",
}


def _kind_of_elem(el) -> str:
    tag = el.tag
    if tag == "head":
        return "section" if el.get("n") == "1" else "subsection"
    if tag == "figure":
        return "table" if el.get("type") == "table" else "figure"
    if tag == "ref":
        return f"{el.get('type')}_marker"
    if tag == "note":
        place = el.get("place")
        if place:
            return place
        return el.get("type") or "note"
    return _TAG_TO_KIND.get(tag, tag)


def tei_to_spans(tei: pd.DataFrame) -> pd.DataFrame:
    """TEI corpus table [doc_id, tei] → flat labeled spans
    [doc_id, kind, text, media_ref, offset] (offset = element order)."""
    import xml.etree.ElementTree as ET

    rows: list[tuple] = []
    for doc_id, xml in zip(tei["doc_id"], tei["tei"]):
        root = ET.fromstring(xml)
        body = root.find("./text/body")
        if body is None:
            continue
        for i, el in enumerate(body):
            kind = _kind_of_elem(el)
            media_ref = None
            g = el.find("graphic")
            if g is not None:
                media_ref = g.get("url")
            tbl = el.find("table")
            if tbl is not None:
                # rebuild the grid: head lines, then one line per <row>
                # with tab-joined cells — the exact body_spans text form
                heads = [
                    (h.text or "").strip() for h in el.findall("head")
                ]
                row_lines = [
                    "\t".join((c.text or "") for c in r.iter("cell"))
                    for r in tbl.iter("row")
                ]
                text = "\n".join([h for h in heads if h] + row_lines)
            else:
                text = (el.text or "").strip()
            rows.append((doc_id, kind, text, media_ref, i))
    return pd.DataFrame(
        rows, columns=["doc_id", "kind", "text", "media_ref", "offset"]
    )


def merge_tei_corpora(corpora):
    """A4 — XML corpus merge (`XMLMerger.java:23-60`): the reference
    concatenates many per-batch TEI training files into one corpus file.
    Spark-side a corpus is a [doc_id, tei] table, so merging is a
    unionByName across batches with FIRST-WINS dedup on doc_id (re-exported
    batches overlap; the earliest batch is the canonical copy, matching the
    merger's in-order concatenation). Scale shape: one union (no shuffle)
    plus one doc_id-keyed window over the merged table — the same single
    shuffle a groupBy-dedup would pay.
    """
    from functools import reduce

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tagged = [
        df.select("doc_id", "tei").withColumn("_src", F.lit(i))
        for i, df in enumerate(corpora)
    ]
    merged = reduce(lambda a, b: a.unionByName(b), tagged)
    w = Window.partitionBy("doc_id").orderBy("_src")
    return (
        merged.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_src")
    )
