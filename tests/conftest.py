from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from grobid_clinical_report_spark.session import get_spark

    s = get_spark(app="tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_docs_pdf():
    from grobid_clinical_report_spark import datagen

    return datagen.fixture_documents_pdf()


@pytest.fixture(scope="session")
def hostile_docs_pdf():
    """Documents in the input schema that carry the characters where Arrow
    and Python text semantics part: NUL, NBSP, \\v, U+0130, Greek final
    sigma (a running head repeated as 'Service ΑΣ bloc' / 'Service ας
    bloc'), Arabic-Indic digits in a callout and a dateline, a table grid,
    and empty, media-only and blank-only documents."""
    import pandas as pd

    from grobid_clinical_report_spark import datagen

    fx = datagen.fixture_documents_pdf().set_index("doc_id")["spans"]

    def doc(lines, media=()):
        spans, off = [], 0
        for i, t in enumerate(lines):
            ref = f"img/h/{i}.png" if i in media else None
            spans.append({"kind": "media" if ref else "text",
                          "text": "" if ref else t, "media_ref": ref,
                          "offset": off})
            off += len(t) + 2
        return spans

    def edit(spans, f):
        return [dict(s, text=f(s["text"])) for s in spans]

    pages = [
        "Service ΑΣ bloc", "COMPTE\xa0RENDU OPÉRATOIRE", "Le 29.04.2000",
        "Dr\vJean MARTIN ; Pr İlker ÖZ",
        "Madame Ana\x00 DUPONT, née le 01/01/1990",
        "", "DIAGNOSTIC :", "Fibrome utérin ςσ symptomatique.",
        "Voir la figure ٣ et la suite.", "", "(cf. figure\xa02) montre.", "",
        "(voir figure\xa03) puis Tableau 2.", "",
        "Tableau 2 : résultats", "A  B\tC", "1  2\t3", "Figure 1 : vue.",
        "Service ας bloc", "1", "\x0c",
        "Service ας bloc", "CONCLUSION :", "Texte\xa0insécable\vverticale İ.",
        "Fait à Paris, le ٢٩.٠٤.٢٠٠٠", "Service ΑΣ  bloc", "2",
    ]
    rows = [
        ("hx-greek", doc(pages, media={16})),
        ("hx-empty", []),
        ("hx-media", doc(["", ""], media={0, 1})),
        ("hx-blank", doc(["", "\x0c", ""])),
        ("hx-nbsp", edit(fx["fx-full-0001"], lambda t: t.replace(" ", "\xa0", 2))),
        ("hx-vt", edit(fx["fx-hdr-0002"], lambda t: t.replace(" ", "\v", 1))),
        ("hx-nul", edit(fx["fx-full-0001"], lambda t: t.replace("e", "\x00", 1))),
        ("hx-sigma", edit(fx["fx-hdr-0002"],
                          lambda t: t.upper().replace("S ", "Σ "))),
        ("hx-dotted", edit(fx["fx-full-0001"], lambda t: t.replace("I", "İ"))),
    ]
    return pd.DataFrame(rows, columns=["doc_id", "spans"])
