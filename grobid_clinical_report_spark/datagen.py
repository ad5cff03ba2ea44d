"""Deterministic synthetic corpus + fixtures (FIXTURES.md; seed=42).

Builds the interleaved-span `documents` table (doc_id, spans) and the
`expected_spans` fixture table. Fixture documents mirror the *structure* of the
reference's golden service fixtures (/root/reference/resources/test/
processFullMedicalText.xml, processHeaderFromPDF.xml, MedicalTextExample.txt,
doc/API_service.md cURL examples) without copying them; filler documents give
scale tiers a log-normal span-count distribution with ~7% media spans
(FIXTURES.md §4).

Everything is derived from the seed — no external data, reproducible across
runs (the resume test depends on byte-identical regeneration).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SEED = 42

# ---------------------------------------------------------------------------
# fixture documents: (kind, text, media_ref) per line; offset assigned after
# ---------------------------------------------------------------------------

_FOOTER = "Compte rendu validé électroniquement - Hôpital de Créteil"

FX_FULL_LINES = [
    # header zone (page 1 top)
    ("text", "N° 2000-123456", None),
    ("text", "COMPTE RENDU OPÉRATOIRE", None),
    ("text", "Le 29.04.2000", None),
    ("text", "", None),
    ("text", "Pôle Femmes-Adolescents-Mères-Enfants SERVICE DE GYNECOLOGIE OBSTETRIQUE", None),
    ("text", "51, Avenue du Mal de Lattre de Tassigny 94010 CRETEIL Cedex", None),
    ("text", "", None),
    ("text", "Opérateur : Dr Mathieu MERLIN ; Assistant : Dr Leroy BLANC ; Anesthésiste : Dr Jolie MASSON", None),
    ("text", "IPP 800099001", None),
    ("text", "Madame Abba Voletta DUPONT, née le 01/01/1990, 27 ans", None),
    ("text", "666, Avenue de la République LE KREMLIN BICETRE", None),
    ("text", "", None),
    # left-note zone (org contact block: phone/fax pull the block left)
    ("text", "Chef de Service : Pr. A. Gautier", None),
    ("text", "Secrétariat : 01 41 12 34 56", None),
    ("text", "Fax : 01 41 12 34 58", None),
    ("text", "", None),
    # body zone
    ("text", "HYSTÉRECTOMIE PAR COELIOSCOPIE", None),
    ("text", "", None),
    ("text", "DIAGNOSTIC :", None),
    ("text", "Fibrome utérin symptomatique.", None),
    ("text", "", None),
    ("text", "RAPPEL CLINIQUE :", None),
    ("text", "Antécédents :", None),
    ("text", "Patiente de 27 ans, sans antécédent notable.", None),
    ("text", "Suivie pour fibrome utérin depuis 1998.", None),
    ("text", "", None),
    ("text", "Histoire de la maladie :", None),
    ("text", "La patiente présente des douleurs pelviennes.", None),
    ("text", "", None),
    ("text", "INTERVENTION :", None),
    ("text", "Incision et exérèse réalisées sans complication.", None),
    ("text", "Avis pris auprès du Dr Martinez.", None),
    ("text", "Les suites opératoires sont simples.", None),
    ("media", "", "img/fx-full-0001/0.png"),
    ("text", "Figure 1 : vue opératoire.", None),
    ("text", _FOOTER, None),
    ("text", "1", None),
    ("text", "\f", None),
    # page 2
    ("text", "CONCLUSION :", None),
    ("text", "Hystérectomie totale sans complication.", None),
    ("text", _FOOTER, None),
    ("text", "2", None),
]

FX_FULL_EXPECTED = [
    ("title", "HYSTÉRECTOMIE PAR COELIOSCOPIE", None),
    ("section", "DIAGNOSTIC :", None),
    ("paragraph", "Fibrome utérin symptomatique.", None),
    ("section", "RAPPEL CLINIQUE :", None),
    ("subsection", "Antécédents :", None),
    ("paragraph", "Patiente de 27 ans, sans antécédent notable. Suivie pour fibrome utérin depuis 1998.", None),
    ("subsection", "Histoire de la maladie :", None),
    ("paragraph", "La patiente présente des douleurs pelviennes.", None),
    ("section", "INTERVENTION :", None),
    ("paragraph", "Incision et exérèse réalisées sans complication.", None),
    ("medic", "Avis pris auprès du Dr Martinez.", None),
    ("paragraph", "Les suites opératoires sont simples.", None),
    ("figure", "Figure 1 : vue opératoire.", "img/fx-full-0001/0.png"),
    ("footnote", _FOOTER, None),
    ("section", "CONCLUSION :", None),
    ("paragraph", "Hystérectomie totale sans complication.", None),
]

FX_HDR_LINES = [
    ("text", "COMPTE RENDU OPÉRATOIRE", None),
    ("text", "Hystérectomie totale par coelioscopie", None),
    ("text", "Le 29.04.2000", None),
    ("text", "Le 29.04.2000 à 10h30", None),  # keep-longest-date merge target
    ("text", "", None),
    ("text", "Opérateur : Dr Mathieu MERLIN ; Assistant : Dr Leroy BLANC", None),
    ("text", "Madame Abba Voletta DUPONT, née le 01/01/1990, 27 ans", None),
    ("text", "Madame Abba Voletta DUPONT, née le 01/01/1990, 27 ans", None),  # dup → dropped
    ("text", "", None),
    ("text", "Pôle Femmes-Adolescents-Mères-Enfants SERVICE DE GYNECOLOGIE OBSTETRIQUE", None),
    ("text", "51, Avenue du Mal de Lattre de Tassigny 94010 CRETEIL Cedex", None),
]

FX_HDR_EXPECTED = [
    ("doctype", "COMPTE RENDU OPÉRATOIRE", None),
    ("title", "Hystérectomie totale par coelioscopie", None),
    # longest raw date wins (HeaderMedicalParser.java:1261-1266), normalized
    # to ISO (ibid. :174-181, 394-409)
    ("date", "2000-04-29", None),
    ("medic", "Opérateur : Dr Mathieu MERLIN ; Assistant : Dr Leroy BLANC", None),
    # C2 enrichment: medics re-parsed through the medic sub-model
    # (HeaderMedicalParser.java:184-190), patients through the patient
    # sub-model (:191-198) — sub-spans follow their parent field
    ("medic_rolename", "Opérateur", None),
    ("medic_persname", "Dr Mathieu MERLIN", None),
    ("medic_rolename", "Assistant", None),
    ("medic_persname", "Dr Leroy BLANC", None),
    ("patient", "Madame Abba Voletta DUPONT, née le 01/01/1990, 27 ans", None),
    ("patient_persname", "Madame Abba Voletta DUPONT", None),
    ("patient_birthdate", "née le 01/01/1990", None),
    ("patient_age", "27 ans", None),
    ("affiliation", "Pôle Femmes-Adolescents-Mères-Enfants SERVICE DE GYNECOLOGIE OBSTETRIQUE", None),
    ("address", "51, Avenue du Mal de Lattre de Tassigny 94010 CRETEIL Cedex", None),
    # C2 enrichment scalars: language id (fr default, :120-147) + page count
    # (:150)
    ("lang", "fr", None),
    ("page_count", "1", None),
]

FX_NOTE_LINES = [
    ("text", "SERVICE DE GYNECOLOGIE OBSTETRIQUE", None),
    ("text", "Chef de Service : Pr. A. Gautier", None),
    ("text", "Secrétariat : 01 41 12 34 56", None),
    ("text", "Fax : 01 41 12 34 58", None),
    ("text", "contact@hopital-creteil.fr", None),
]

FX_NOTE_EXPECTED = [
    ("organization", "SERVICE DE GYNECOLOGIE OBSTETRIQUE", None),
    ("medic", "Chef de Service : Pr. A. Gautier", None),
    ("phone", "Secrétariat : 01 41 12 34 56", None),
    ("fax", "Fax : 01 41 12 34 58", None),
    ("email", "contact@hopital-creteil.fr", None),
    # scalar enrichment (LeftNoteMedicalParser.java:121-155)
    ("lang", "fr", None),
    ("page_count", "1", None),
]

# fx-note-0021 — morphology-only left-note fields (F5 per-token suffix
# depth, FeaturesVectorLeftNoteMedical.java:61-71): the medic carries no
# Dr/Pr title (initial + profession suffix 'Cardiologue') and the
# organization has no ORG_WORDS hit (specialty suffix only)
FX_NOTE2_LINES = [
    ("text", "Unité d'Hématologie Clinique", None),
    ("text", "C. LEROY, Cardiologue", None),
    ("text", "Secrétariat : 01 41 12 99 00", None),
    ("text", "accueil@hopital-boisville.fr", None),
]

FX_NOTE2_EXPECTED = [
    ("organization", "Unité d'Hématologie Clinique", None),
    ("medic", "C. LEROY, Cardiologue", None),
    ("phone", "Secrétariat : 01 41 12 99 00", None),
    ("email", "accueil@hopital-boisville.fr", None),
    ("lang", "fr", None),
    ("page_count", "1", None),
]

FX_NER_LINES = [
    ("text", "Madame Belle Joseline DUPONT, âgée de 50 ans, née le 07/08/1970.", None),
    ("text", "Arthrite septique du genou droit à Corynebacterium traitée par Daptomycine 1500 mg puis Linézolide 600 mg.", None),
    ("text", "Lavage articulaire et synovectomie le 14/08/2000, poursuite de Daptomycine jusqu'au 9/09/2000.", None),
    ("text", "Ordonnance validée par Docteur Hakuna Matata ROUX.", None),
    # out-of-gazetteer entities found by suffix morphology alone
    # (FeaturesVectorMedicalNER prefix/suffix feature parity)
    ("text", "Ostéomyélite confirmée, traitée par Clindamycine 600 mg.", None),
]

FX_NER_EXPECTED = [
    ("persname", "Madame Belle Joseline DUPONT", None),
    ("age", "50 ans", None),
    ("date", "07/08/1970", None),
    ("pathology", "Arthrite septique", None),
    ("anatomy", "genou droit", None),
    ("substance", "Corynebacterium", None),
    ("medicament", "Daptomycine 1500 mg", None),
    ("medicament", "Linézolide 600 mg", None),
    ("procedure", "Lavage articulaire", None),
    ("procedure", "synovectomie", None),
    ("date", "14/08/2000", None),
    ("medicament", "Daptomycine", None),
    ("date", "9/09/2000", None),
    ("persname", "Docteur Hakuna Matata ROUX", None),
    ("pathology", "Ostéomyélite", None),
    ("medicament", "Clindamycine 600 mg", None),
]

# string sub-parser fixtures (doc/API_service.md cURL examples)
FX_DATELINE_TEXT = "Intervention du 14/03/2017. Paris, le 20.9.2018"
FX_DATELINE_EXPECTED = [
    ("note", "Intervention", None),
    ("date", "14/03/2017", None),
    ("place", "Paris", None),
    ("date", "20.9.2018", None),
]
# processMedic fills ONE Medic POJO per input string: repeated field
# clusters concatenate — '\t' for roles, '; ' elsewhere (MedicParser.java:
# 103-228) — instead of emitting per-cluster spans (the header-enrichment
# path keeps per-cluster medic_* spans because there the reference splits
# on ';' into a LIST of POJOs, HeaderMedicalParser.java:184-190)
FX_MEDIC_TEXT = "Chef de Service Pr. Abagael ZOSIMA. Assistant Dr Woody WOOD."
FX_MEDIC_EXPECTED = [
    ("rolename", "Chef de Service\tAssistant", None),
    ("persname", "Pr. Abagael ZOSIMA; Dr Woody WOOD", None),
]
# fx-medic-0016 — org-type merge + isDifferentContent repeat dedup: two org
# mentions join into one organisation field, the repeated one is dropped
FX_MEDIC2_TEXT = (
    "Dr Jean ROUX. Service de Cardiologie. Hôpital Bichat."
    " Service de Cardiologie."
)
FX_MEDIC2_EXPECTED = [
    ("persname", "Dr Jean ROUX", None),
    ("orgname", "Service de Cardiologie; Hôpital Bichat", None),
]
FX_PATIENT_TEXT = "Madame Eva GOODRICH 666, RUE DU MARRANT 92290 CHATENAY MALABRY"
FX_PATIENT_EXPECTED = [
    ("persname", "Madame Eva GOODRICH", None),
    ("address", "666, RUE DU MARRANT 92290 CHATENAY MALABRY", None),
]

# fx-full-0008 — body structure breadth: items, table, callout markers,
# annex and acknowledgement zones (TEIFormatter list/figure/table handling,
# MedicalLabels annex/acknowledgement)
FX_FULL2_LINES = [
    # header block (excluded from extract_full output)
    ("text", "COMPTE RENDU DE CONSULTATION", None),
    ("text", "Le 12.03.2019", None),
    ("text", "", None),
    # body
    ("text", "SUIVI POSTOPÉRATOIRE", None),
    ("text", "", None),
    ("text", "EXAMEN CLINIQUE :", None),
    ("text", "Les constantes sont normales (cf. Figure 1).", None),
    ("text", "- tension artérielle stable", None),
    ("text", "- température normale", None),
    ("text", "", None),
    ("text", "Tableau 1 : constantes mesurées.", None),
    ("text", "Les résultats détaillés figurent ici (cf. Tableau 1).", None),
    ("text", "", None),
    ("text", "Remerciements au personnel du service.", None),
    ("text", "", None),
    ("text", "ANNEXE", None),
    ("text", "Protocole de soins standard.", None),
]

FX_FULL2_EXPECTED = [
    ("title", "SUIVI POSTOPÉRATOIRE", None),
    ("section", "EXAMEN CLINIQUE :", None),
    ("figure_marker", "Les constantes sont normales (cf. Figure 1).", None),
    ("item", "- tension artérielle stable", None),
    ("item", "- température normale", None),
    ("table", "Tableau 1 : constantes mesurées.", None),
    ("table_marker", "Les résultats détaillés figurent ici (cf. Tableau 1).", None),
    ("acknowledgement", "Remerciements au personnel du service.", None),
    ("annex", "ANNEXE Protocole de soins standard.", None),
]

# fx-hdr-0009 — header field breadth: docnum/email/web/phone/fax.
# email/web sit in a block WITHOUT phone (a phone+org block would be a
# left-note contact block); the phone/fax block carries no role/org words.
FX_HDR2_LINES = [
    ("text", "N° 2019-000777", None),
    ("text", "COMPTE RENDU DE CONSULTATION", None),
    ("text", "Le 12.03.2019 à 14h05", None),
    ("text", "", None),
    ("text", "Dr Paul DURAND", None),
    ("text", "Madame Iris LENOIR, née le 02/02/1962", None),
    ("text", "rdv@exemple-sante.fr", None),
    ("text", "www.exemple-sante.fr", None),
    ("text", "", None),
    ("text", "Tél : 01 45 17 80 00", None),
    ("text", "Fax : 01 45 17 80 01", None),
]

FX_HDR2_EXPECTED = [
    ("docnum", "N° 2019-000777", None),
    ("doctype", "COMPTE RENDU DE CONSULTATION", None),
    ("date", "2019-03-12", None),
    ("medic", "Dr Paul DURAND", None),
    ("medic_persname", "Dr Paul DURAND", None),
    ("patient", "Madame Iris LENOIR, née le 02/02/1962", None),
    ("patient_persname", "Madame Iris LENOIR", None),
    ("patient_birthdate", "née le 02/02/1962", None),
    ("email", "rdv@exemple-sante.fr", None),
    ("web", "www.exemple-sante.fr", None),
    ("phone", "Tél : 01 45 17 80 00", None),
    ("fax", "Fax : 01 45 17 80 01", None),
    ("lang", "fr", None),
    ("page_count", "1", None),
]

# fx-hdr-0010 — dateline fallback enrichment: the document date/place come
# only from the <dateline> line; the DatelineParser fallback must fill them
# (HeaderMedicalParser.java:153-172)
FX_HDR3_LINES = [
    ("text", "COMPTE RENDU D'HOSPITALISATION", None),
    ("text", "Fait à Paris, le 20.9.2018", None),
    ("text", "", None),
    ("text", "Dr Anne CLAIRE", None),
]

FX_HDR3_EXPECTED = [
    ("doctype", "COMPTE RENDU D'HOSPITALISATION", None),
    ("dateline", "Fait à Paris, le 20.9.2018", None),
    # fallback fills carry the dateline's offset → they follow it directly
    ("date", "2018-09-20", None),
    ("place", "Paris", None),
    ("medic", "Dr Anne CLAIRE", None),
    ("medic_persname", "Dr Anne CLAIRE", None),
    ("lang", "fr", None),
    ("page_count", "1", None),
]

# fx-cover-0011 — title page (MedicalLabels <titlePage>): a prose-free cover
# page pushes the administrative header to page 2; extract_full must emit
# ONLY body structure (no cover/header leakage)
FX_COVER_LINES = [
    ("text", "COMPTE RENDU D'HOSPITALISATION", None),
    ("text", "Hôpital de Créteil", None),
    ("text", "Le 15.06.2021", None),
    ("text", "", None),
    ("text", "\f", None),
    ("text", "N° 2021-000123", None),
    ("text", "Dr Luc MOREAU", None),
    ("text", "", None),
    ("text", "SYNTHÈSE MÉDICALE", None),
    ("text", "", None),
    ("text", "EVOLUTION :", None),
    ("text", "L'évolution clinique est favorable sous traitement adapté.", None),
]

FX_COVER_EXPECTED = [
    ("title", "SYNTHÈSE MÉDICALE", None),
    ("section", "EVOLUTION :", None),
    ("paragraph", "L'évolution clinique est favorable sous traitement adapté.", None),
]

# fx-reorder-0012 — reordered zones: the left-note contact block precedes the
# header block; both extractors must still find their zones (the round-1
# keyword heuristics assumed header-first ordering)
FX_REORDER_LINES = [
    ("text", "SERVICE DE CARDIOLOGIE", None),
    ("text", "Chef de Service : Pr. D. Lambert", None),
    ("text", "Secrétariat : 01 48 22 33 44", None),
    ("text", "Fax : 01 48 22 33 45", None),
    ("text", "", None),
    ("text", "COMPTE RENDU DE CONSULTATION", None),
    ("text", "Le 03.02.2020", None),
    ("text", "Dr Paul DURAND", None),
    ("text", "Madame Iris LENOIR, née le 02/02/1962", None),
]

FX_REORDER_NOTE_EXPECTED = [
    ("organization", "SERVICE DE CARDIOLOGIE", None),
    ("medic", "Chef de Service : Pr. D. Lambert", None),
    ("phone", "Secrétariat : 01 48 22 33 44", None),
    ("fax", "Fax : 01 48 22 33 45", None),
    ("lang", "fr", None),
    ("page_count", "1", None),
]

FX_REORDER_HDR_EXPECTED = [
    ("doctype", "COMPTE RENDU DE CONSULTATION", None),
    ("date", "2020-02-03", None),
    ("medic", "Dr Paul DURAND", None),
    ("medic_persname", "Dr Paul DURAND", None),
    ("patient", "Madame Iris LENOIR, née le 02/02/1962", None),
    ("patient_persname", "Madame Iris LENOIR", None),
    ("patient_birthdate", "née le 02/02/1962", None),
    ("lang", "fr", None),
    ("page_count", "1", None),
]

# fx-plain-0013 — keyword/convention-free body: section heads are mixed-case
# standalone lines with no colon and no ALL-CAPS; the structural
# heading-shaped feature (not keywords) must find them
FX_PLAIN_LINES = [
    ("text", "COMPTE RENDU DE CONSULTATION", None),
    ("text", "Le 05.05.2022", None),
    ("text", "", None),
    ("text", "Bilan clinique", None),
    ("text", "", None),
    ("text", "Examen initial", None),
    ("text", "Le patient se porte bien et poursuit son traitement quotidien.", None),
    ("text", "", None),
    ("text", "Conduite à tenir", None),
    ("text", "Poursuite du traitement pendant six mois avant nouvel examen.", None),
]

FX_PLAIN_EXPECTED = [
    ("subsection", "Bilan clinique", None),
    ("subsection", "Examen initial", None),
    ("paragraph", "Le patient se porte bien et poursuit son traitement quotidien.", None),
    ("subsection", "Conduite à tenir", None),
    ("paragraph", "Poursuite du traitement pendant six mois avant nouvel examen.", None),
]

FX_NAME_TEXT = "Pr. Abagael Marie ZOSIMA"
FX_NAME_EXPECTED = [
    ("title", "Pr.", None),
    ("forename", "Abagael", None),
    ("middlename", "Marie", None),
    ("surname", "ZOSIMA", None),
]
FX_ADDR_TEXT = "666, Avenue de la République 94010 CRETEIL"
FX_ADDR_EXPECTED = [
    ("streetnumber", "666", None),
    ("streetname", "Avenue de la République", None),
    ("postcode", "94010", None),
    ("city", "CRETEIL", None),
]
FX_ORG_TEXT = "SERVICE DE GYNECOLOGIE CHU HENRI MONDOR"
# full hierarchy vocabulary (MedicalLabels.java:53-78): SERVICE → <service>,
# CHU → <chu> — the reference's fine-grained org levels, not coarse bins
FX_ORG_EXPECTED = [
    ("service", "SERVICE DE GYNECOLOGIE", None),
    ("chu", "CHU HENRI MONDOR", None),
]


# 0014 family — full label-vocabulary breadth for the string sub-models
# (suffix, country, time, idno/sex — vocabulary the 0005/0007 fixtures
# leave unexercised)
# fx-ner-0018 — adversarial NER: BOTH drugs and the pathology are
# out-of-gazetteer (suffix morphology only), the dose attaches to the
# suffix-detected drug exactly as to a gazetteer one, and the stopword
# chain 'puis relais par' / 'et' must split the three drugs into three
# entities instead of one fused span
FX_NER2_LINES = [
    (
        "text",
        "Perfusion de Pristinamycine 2 g puis relais par Oxacilline"
        " et Lévofloxacine.",
        None,
    ),
    ("text", "Suspicion de bronchiolite.", None),
]

FX_NER2_EXPECTED = [
    ("medicament", "Pristinamycine 2 g", None),
    ("medicament", "Oxacilline", None),
    ("medicament", "Lévofloxacine", None),
    ("pathology", "bronchiolite", None),
]

# fx-ner-0022 — NER vocabulary breadth (fax/location/persType — the three
# reference NER labels the r1-r4 vocabulary lacked; FrenchMedicalNERParser
# writeField tags, MedicalLabels.java:270-296): fax/phone numbers via
# keyword windows, out-of-gazetteer toponym location, standalone
# person-type mentions (not titles attached to a name)
FX_NER3_LINES = [
    ("text", "Fax : 01 45 17 80 01. Transfert vers Paris prévu.", None),
    ("text",
     "La patiente est stable. Appelez le médecin au Tél : 01 42 16 10 00.",
     None),
]

FX_NER3_EXPECTED = [
    ("fax", "01 45 17 80 01", None),
    ("location", "Paris", None),
    ("perstype", "patiente", None),
    ("perstype", "médecin", None),
    ("phone", "01 42 16 10 00", None),
]

# fx-caption-0017 — multi-line caption re-labeling (processShort analog,
# FullMedicalTextParser.java:270-317): the caption continuation line (open
# sentence) fuses into the figure span; the SHORT trailing sentence after
# the caption sentence closes splits off as a paragraph (round-2 stickiness
# swallowed it into the figure)
FX_CAPTION_LINES = [
    ("text", "COMPTE RENDU D'IMAGERIE", None),
    ("text", "Le 02.03.2023", None),
    ("text", "", None),
    ("text", "IRM CÉRÉBRALE", None),
    ("text", "", None),
    ("text", "RÉSULTATS :", None),
    ("media", "", "img/fx-caption-0017/0.png"),
    ("text", "Figure 1 : coupe sagittale", None),
    ("text", "avec produit de contraste.", None),
    ("text", "Voir annexe.", None),
]

FX_CAPTION_EXPECTED = [
    ("title", "IRM CÉRÉBRALE", None),
    ("section", "RÉSULTATS :", None),
    (
        "figure",
        "Figure 1 : coupe sagittale avec produit de contraste.",
        "img/fx-caption-0017/0.png",
    ),
    ("paragraph", "Voir annexe.", None),
]

# fx-hdr-0015 — keyword-free header fields (F3 token-shape depth): the
# affiliation has no ORG_WORDS hit (specialty suffix only) and the medic has
# no Dr/Pr title (bare ALLCAPS-surname + Capitalized-forename shape) — the
# round-2 keyword cue set mislabelled both as <title>
FX_HDR4_LINES = [
    ("text", "COMPTE RENDU DE CONSULTATION", None),
    ("text", "Le 10.11.2021", None),
    ("text", "", None),
    ("text", "Hématologie Adulte", None),
    ("text", "ZOSIMA Abagael", None),
]

FX_HDR4_EXPECTED = [
    ("doctype", "COMPTE RENDU DE CONSULTATION", None),
    ("date", "2021-11-10", None),
    ("affiliation", "Hématologie Adulte", None),
    ("medic", "ZOSIMA Abagael", None),
    ("medic_persname", "ZOSIMA Abagael", None),
    ("lang", "fr", None),
    ("page_count", "1", None),
]

# fx-table-0020 — table ROW/CELL structure pinned at span level (C3,
# FullMedicalTextParser.java:5599-5647 → TableParser / Table.toTEI row-cell
# emission): a 2×3 grid after a 'Tableau' caption. The table span carries
# newline-separated rows with tab-separated cells; TEI renders
# <figure type="table"><head/><table><row><cell>…; round-trip exact.
FX_TABLE_LINES = [
    ("text", "COMPTE RENDU DE CONSULTATION", None),
    ("text", "Le 05.02.2020", None),
    ("text", "", None),
    ("text", "BILAN BIOLOGIQUE :", None),
    ("text", "Les examens montrent les valeurs suivantes.", None),
    ("text", "", None),
    ("text", "Tableau 1 : Bilan d'entrée.", None),
    ("text", "Paramètre  Valeur  Unité", None),
    ("text", "Hémoglobine  13,2  g/dL", None),
    ("text", "", None),
    ("text", "CONCLUSION :", None),
    ("text", "Bilan biologique sans anomalie significative.", None),
]

FX_TABLE_EXPECTED = [
    ("section", "BILAN BIOLOGIQUE :", None),
    ("paragraph", "Les examens montrent les valeurs suivantes.", None),
    ("table",
     "Tableau 1 : Bilan d'entrée.\nParamètre\tValeur\tUnité\n"
     "Hémoglobine\t13,2\tg/dL", None),
    ("section", "CONCLUSION :", None),
    ("paragraph", "Bilan biologique sans anomalie significative.", None),
]

# fx-hdr-0019 — token-MORPHOLOGY-only header fields (F3 per-token 1-4-char
# prefix/suffix depth, FeaturesVectorHeaderMedical.java:63-73): the docnum
# has no N° shape ('Réf' prefix class), the medic has no Dr/Pr title and no
# name-shape line (profession suffix 'Chirurgienne' — only 'ch' precedes
# the 'irurgien' suffix, pinning the {2,} prefix bound — + initial 'C.'),
# and the
# dateline's place is out-of-gazetteer (toponym suffix 'Boisville') with a
# TEXTUAL French date — every cue is token morphology, none is a keyword or
# line shape
FX_HDR5_LINES = [
    ("text", "Réf : 7301-884", None),
    ("text", "COMPTE RENDU DE CONSULTATION", None),
    ("text", "", None),
    ("text", "C. LEROY, Chirurgienne", None),
    ("text", "Fait à Boisville, le 3 mars 2021", None),
]

FX_HDR5_EXPECTED = [
    ("docnum", "Réf : 7301-884", None),
    ("doctype", "COMPTE RENDU DE CONSULTATION", None),
    ("medic", "C. LEROY, Chirurgienne", None),
    ("medic_persname", "C. LEROY", None),
    ("medic_rolename", "Chirurgienne", None),
    ("dateline", "Fait à Boisville, le 3 mars 2021", None),
    # dateline fallback fills (DatelineParser analog): textual date → ISO,
    # suffix-morphology place
    ("date", "2021-03-03", None),
    ("place", "Boisville", None),
    ("lang", "fr", None),
    ("page_count", "1", None),
]

FX_NAME2_TEXT = "Pr. Abagael Marie ZOSIMA Jr"
FX_NAME2_EXPECTED = [
    ("title", "Pr.", None),
    ("forename", "Abagael", None),
    ("middlename", "Marie", None),
    ("surname", "ZOSIMA", None),
    ("suffix", "Jr", None),
]
FX_ADDR2_TEXT = "10 Avenue Victor Hugo 94010 CRETEIL France"
FX_ADDR2_EXPECTED = [
    ("streetnumber", "10", None),
    ("streetname", "Avenue Victor Hugo", None),
    ("postcode", "94010", None),
    ("city", "CRETEIL", None),
    ("country", "France", None),
]
FX_DATELINE2_TEXT = "Paris, le 20.9.2018 à 15h30"
FX_DATELINE2_EXPECTED = [
    ("place", "Paris", None),
    ("date", "20.9.2018", None),
    ("time", "15h30", None),
]
FX_PATIENT2_TEXT = "IPP 800099001 Madame Eva GOODRICH née le 02/02/1962 sexe féminin"
FX_PATIENT2_EXPECTED = [
    ("idno", "IPP 800099001", None),
    ("persname", "Madame Eva GOODRICH", None),
    ("birthdate", "née le 02/02/1962", None),
    ("sex", "sexe féminin", None),
]

FIXTURE_DOCS = {
    "fx-full-0001": FX_FULL_LINES,
    "fx-hdr-0002": FX_HDR_LINES,
    "fx-note-0003": FX_NOTE_LINES,
    "fx-ner-0004": FX_NER_LINES,
    "fx-dateline-0005": [("text", FX_DATELINE_TEXT, None)],
    "fx-medic-0005": [("text", FX_MEDIC_TEXT, None)],
    "fx-patient-0005": [("text", FX_PATIENT_TEXT, None)],
    "fx-name-0007": [("text", FX_NAME_TEXT, None)],
    "fx-addr-0007": [("text", FX_ADDR_TEXT, None)],
    "fx-org-0007": [("text", FX_ORG_TEXT, None)],
    "fx-full-0008": FX_FULL2_LINES,
    "fx-hdr-0009": FX_HDR2_LINES,
    "fx-hdr-0010": FX_HDR3_LINES,
    "fx-cover-0011": FX_COVER_LINES,
    "fx-name-0014": [("text", FX_NAME2_TEXT, None)],
    "fx-addr-0014": [("text", FX_ADDR2_TEXT, None)],
    "fx-dateline-0014": [("text", FX_DATELINE2_TEXT, None)],
    "fx-patient-0014": [("text", FX_PATIENT2_TEXT, None)],
    "fx-reorder-0012": FX_REORDER_LINES,
    "fx-plain-0013": FX_PLAIN_LINES,
    "fx-hdr-0015": FX_HDR4_LINES,
    "fx-hdr-0019": FX_HDR5_LINES,
    "fx-table-0020": FX_TABLE_LINES,
    "fx-note-0021": FX_NOTE2_LINES,
    "fx-medic-0016": [("text", FX_MEDIC2_TEXT, None)],
    "fx-caption-0017": FX_CAPTION_LINES,
    "fx-ner-0018": FX_NER2_LINES,
    "fx-ner-0022": FX_NER3_LINES,
}

# pipeline mode → (fixture doc_id, expected span list)
FIXTURE_EXPECTED = {
    "extract_full": {
        "fx-full-0001": FX_FULL_EXPECTED,
        "fx-full-0008": FX_FULL2_EXPECTED,
        "fx-cover-0011": FX_COVER_EXPECTED,
        "fx-plain-0013": FX_PLAIN_EXPECTED,
        "fx-caption-0017": FX_CAPTION_EXPECTED,
        "fx-table-0020": FX_TABLE_EXPECTED,
    },
    "extract_header": {
        "fx-hdr-0002": FX_HDR_EXPECTED,
        "fx-hdr-0009": FX_HDR2_EXPECTED,
        "fx-hdr-0010": FX_HDR3_EXPECTED,
        "fx-reorder-0012": FX_REORDER_HDR_EXPECTED,
        "fx-hdr-0015": FX_HDR4_EXPECTED,
        "fx-hdr-0019": FX_HDR5_EXPECTED,
    },
    "extract_leftnote": {
        "fx-note-0003": FX_NOTE_EXPECTED,
        "fx-reorder-0012": FX_REORDER_NOTE_EXPECTED,
        "fx-note-0021": FX_NOTE2_EXPECTED,
    },
    "ner": {
        "fx-ner-0004": FX_NER_EXPECTED,
        "fx-ner-0018": FX_NER2_EXPECTED,
        "fx-ner-0022": FX_NER3_EXPECTED,
    },
    "parse_dateline": {
        "fx-dateline-0005": FX_DATELINE_EXPECTED,
        "fx-dateline-0014": FX_DATELINE2_EXPECTED,
    },
    "parse_medic": {
        "fx-medic-0005": FX_MEDIC_EXPECTED,
        "fx-medic-0016": FX_MEDIC2_EXPECTED,
    },
    "parse_patient": {
        "fx-patient-0005": FX_PATIENT_EXPECTED,
        "fx-patient-0014": FX_PATIENT2_EXPECTED,
    },
    "parse_name": {
        "fx-name-0007": FX_NAME_EXPECTED,
        "fx-name-0014": FX_NAME2_EXPECTED,
    },
    "parse_address": {
        "fx-addr-0007": FX_ADDR_EXPECTED,
        "fx-addr-0014": FX_ADDR2_EXPECTED,
    },
    "parse_org": {"fx-org-0007": FX_ORG_EXPECTED},
}



# pinned segmenter training labels (A2 generator oracle): content-line seq →
# zone, audited against MedicalLabels zone semantics (page numbers <page>,
# repeated footers <footnote>, contact block <leftnote>, cover <titlePage>)
FX_SEG_TRAINING = {
    "fx-full-0001": [
        (0, "header"), (1, "header"), (2, "header"), (4, "header"),
        (5, "header"), (7, "header"), (8, "header"), (9, "header"),
        (10, "header"),
        (12, "leftnote"), (13, "leftnote"), (14, "leftnote"),
        (16, "body"), (18, "body"), (19, "body"), (21, "body"),
        (22, "body"), (23, "body"), (24, "body"), (26, "body"),
        (27, "body"), (29, "body"), (30, "body"), (31, "body"),
        (32, "body"), (33, "body"), (34, "body"),
        (35, "footnote"), (36, "page"),
        (38, "body"), (39, "body"),
        (40, "footnote"), (41, "page"),
    ],
    "fx-cover-0011": [
        (0, "titlePage"), (1, "titlePage"), (2, "titlePage"),
        (5, "header"), (6, "header"),
        (8, "body"), (10, "body"), (11, "body"),
    ],
}


# pinned header-model training labels (createTrainingHeaderMedical analog):
# header-zone line seq → field label, audited against the header vocabulary
# (docnum/doctype/date/title/medic/patient/affiliation/address/email/web/
# phone/fax — HeaderMedicalParser field semantics); includes the
# keyword-free fx-hdr-0015 lines labeled by token-shape alone
FX_HDR_TRAINING = {
    "fx-full-0001": [
        (0, "docnum"), (1, "doctype"), (2, "date"),
        (4, "affiliation"), (5, "address"),
        (7, "medic"), (8, "patient"), (9, "patient"), (10, "address"),
    ],
    "fx-hdr-0002": [
        (0, "doctype"), (1, "title"), (2, "date"), (3, "date"),
        (5, "medic"), (6, "patient"), (7, "patient"),
        (9, "affiliation"), (10, "address"),
    ],
    "fx-hdr-0009": [
        (0, "docnum"), (1, "doctype"), (2, "date"),
        (4, "medic"), (5, "patient"),
        (6, "email"), (7, "web"), (9, "phone"), (10, "fax"),
    ],
    "fx-hdr-0015": [
        (0, "doctype"), (1, "date"), (3, "affiliation"), (4, "medic"),
    ],
    "fx-hdr-0019": [
        (0, "docnum"), (1, "doctype"), (3, "medic"), (4, "dateline"),
    ],
}


def _with_offsets(lines: list[tuple]) -> list[dict]:
    """Assign strictly-increasing char offsets (flattened-document positions)."""
    spans, off = [], 0
    for kind, text, ref in lines:
        spans.append(
            {"kind": kind, "text": text, "media_ref": ref, "offset": off}
        )
        off += max(len(text), 1) + 1
    return spans


def fixture_documents_pdf() -> pd.DataFrame:
    """Fixture docs as a pandas DataFrame matching DOCUMENTS_SCHEMA."""
    rows = [
        {"doc_id": doc_id, "spans": _with_offsets(lines)}
        for doc_id, lines in sorted(FIXTURE_DOCS.items())
    ]
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# filler corpus (scale tiers) — seeded, vectorized generation
# ---------------------------------------------------------------------------

_SECTIONS = np.array(
    ["DIAGNOSTIC :", "INTERVENTION :", "CONCLUSION :", "RAPPEL CLINIQUE :",
     "TRAITEMENT :", "EXAMEN CLINIQUE :", "RESULTATS :"]
)
_SUBSECTIONS = np.array(
    ["Antécédents :", "Histoire de la maladie :", "Examens complémentaires :",
     "Suites opératoires :"]
)
_WORDS = np.array(
    ("la patiente présente une douleur du genou droit avec fièvre et "
     "œdème le traitement par daptomycine est poursuivi sans complication "
     "une incision est réalisée puis un drainage la fonction articulaire "
     "reste limitée après ponction et biopsie du fémur les suites sont "
     "simples pour cette patiente de service").split()
)
_MEDICS = np.array(["Dr Martin BERNARD", "Dr Sophie LAURENT", "Pr Anne PETIT",
                    "Dr Luc MOREAU"])
_FOOTERS = np.array(
    ["Compte rendu validé électroniquement - Hôpital %d",
     "Document confidentiel - Service %d"]
)


def synthetic_documents_pdf(
    n_docs: int,
    seed: int = SEED,
    median_spans: int = 120,
    max_spans: int = 50_000,
    heavy_docs: int = 0,
    heavy_spans: int = 20_000,
) -> pd.DataFrame:
    """Seeded filler corpus: log-normal span counts (median ≈ ``median_spans``,
    heavy tail capped at ``max_spans``), ~7% media spans, structure drawn from
    the same template family as the fixtures so every feature fires.

    ``heavy_docs`` appends documents of exactly ``heavy_spans`` spans — the
    skew/guardrail exercisers (FIXTURES.md fx-skew-0006 family).
    """
    rng = np.random.default_rng(seed)
    counts = np.minimum(
        np.maximum((rng.lognormal(np.log(median_spans), 0.6, n_docs)).astype(int), 12),
        max_spans,
    )
    if heavy_docs:
        # heavy docs FIRST: a whale costs ~hundreds of median docs of kernel
        # time — placed last it schedules last and becomes the stage tail at
        # every parallelism level (longest-processing-time-first heuristic)
        counts = np.concatenate([np.full(heavy_docs, heavy_spans), counts])

    rows = []
    for d, n in enumerate(counts):
        rows.append(
            {"doc_id": f"syn-{seed}-{d:07d}", "spans": _gen_doc(rng, int(n), d)}
        )
    return pd.DataFrame(rows)


def _gen_doc(rng: np.random.Generator, n: int, d: int) -> list[dict]:
    """One synthetic document with header / leftnote / body / footer / pages.

    Vectorized inner generation: all body line texts are sampled in one shot.
    """
    footer = str(_FOOTERS[d % len(_FOOTERS)]) % (d % 97)
    head = [
        ("text", f"N° {2000 + d % 20}-{100000 + d}", None),
        ("text", "COMPTE RENDU OPÉRATOIRE", None),
        ("text", f"Le {1 + d % 28:02d}.{1 + d % 12:02d}.{1990 + d % 30}", None),
        ("text", "", None),
        ("text", str(_MEDICS[d % len(_MEDICS)]), None),
        ("text", f"IPP 8000{d % 100000:05d}", None),
        ("text", "", None),
    ]
    if d % 3 == 0:
        head += [
            ("text", "Chef de Service : Pr. A. Gautier", None),
            ("text", f"Secrétariat : 01 41 {d % 90 + 10:02d} 34 56", None),
            ("text", "", None),
        ]

    n_body = max(n - len(head) - 4, 4)
    # sample all body lines at once
    kinds = rng.choice(
        np.array(["para", "section", "subsection", "item", "media", "blank"]),
        size=n_body,
        p=[0.55, 0.08, 0.05, 0.08, 0.07, 0.17],
    )
    word_idx = rng.integers(0, len(_WORDS), size=(n_body, 9))
    word_mat = _WORDS[word_idx]
    sec_pick = rng.integers(0, len(_SECTIONS), size=n_body)
    sub_pick = rng.integers(0, len(_SUBSECTIONS), size=n_body)

    body = []
    media_i = 0
    page_len = 40
    for i in range(n_body):
        k = kinds[i]
        if k == "blank":
            body.append(("text", "", None))
        elif k == "media":
            body.append(("media", "", f"img/syn-{d:07d}/{media_i}.png"))
            media_i += 1
        elif k == "section":
            body.append(("text", str(_SECTIONS[sec_pick[i]]), None))
        elif k == "subsection":
            body.append(("text", str(_SUBSECTIONS[sub_pick[i]]), None))
        elif k == "item":
            body.append(("text", "- " + " ".join(word_mat[i][:5]), None))
        else:
            sent = " ".join(word_mat[i])
            body.append(("text", sent[0].upper() + sent[1:] + ".", None))
        if (len(head) + len(body)) % page_len == 0:
            body.append(("text", footer, None))
            body.append(("text", "\f", None))

    lines = head + [("text", "OBSERVATIONS CLINIQUES", None), ("text", "", None)] + body
    lines.append(("text", footer, None))
    return _with_offsets(lines)


def write_documents_parquet(
    path: str, n_docs: int, seed: int = SEED, include_fixtures: bool = True,
    shards: int = 1, **kw,
) -> None:
    """Materialize the corpus (fixtures embedded at known doc_ids, FIXTURES.md
    §4) with the exact input schema. Uses pyarrow directly so no SparkSession
    is needed at generation time.

    ``shards`` > 1 writes a directory of that many files — the stand-in for a
    real table's many data files: the Spark scan then parallelizes instead of
    serializing on one file (a single small parquet gives the read+shuffle
    stage exactly one task, which caps scaling)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = []
    if include_fixtures:
        parts.append(fixture_documents_pdf())
    parts.append(synthetic_documents_pdf(n_docs, seed=seed, **kw))
    pdf = pd.concat(parts, ignore_index=True)
    schema = pa.schema(
        [
            pa.field("doc_id", pa.string(), nullable=False),
            pa.field(
                "spans",
                pa.list_(
                    pa.struct(
                        [
                            pa.field("kind", pa.string(), nullable=False),
                            pa.field("text", pa.string()),
                            pa.field("media_ref", pa.string()),
                            pa.field("offset", pa.int32(), nullable=False),
                        ]
                    )
                ),
                nullable=False,
            ),
        ]
    )
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    if shards <= 1:
        pq.write_table(table, path, row_group_size=256)
        return
    import os

    os.makedirs(path, exist_ok=True)
    n = len(pdf)
    step = (n + shards - 1) // shards
    for s in range(shards):
        lo = s * step
        if lo >= n:
            break
        # bounded row groups: parquet splits only at row-group boundaries,
        # so one whole-file row group caps a scan's effective parallelism
        # at ONE task per file no matter what maxPartitionBytes asks for
        # (measured: the sf1 bench corpus at 128 files x 1 row group gave
        # the 1m-split NER pass only 128 tasks). 256 docs ≈ 2 MB here —
        # the knob a real table tunes as write.parquet.row-group-size.
        pq.write_table(
            table.slice(lo, step),
            os.path.join(path, f"part-{s:05d}.parquet"),
            row_group_size=256,
        )


def write_documents_parquet_chunked(
    path: str,
    n_docs: int,
    chunk_docs: int = 200_000,
    shards_per_chunk: int = 16,
    seed: int = SEED,
    **kw,
) -> None:
    """write_documents_parquet for corpora too big to synthesize in one
    pandas frame (the in-memory build peaks at ~10× the parquet size: a 2M-
    doc corpus OOM-risks a 128 GB box through the concat + Arrow copies).
    Generates CHUNK-AT-A-TIME — each chunk its own seed (doc_ids embed the
    seed, so chunks never collide), fixtures and heavy whales only in
    chunk 0 — and writes every chunk's shard files into ONE directory, so
    the result reads exactly like the single-shot writer's output (same
    schema, same 256-doc row groups, shards·chunks data files)."""
    import os
    import shutil

    if os.path.exists(path):
        shutil.rmtree(path)  # no stale shards from a previous layout
    os.makedirs(path)
    n_chunks = (n_docs + chunk_docs - 1) // chunk_docs
    for c in range(n_chunks):
        n = min(chunk_docs, n_docs - c * chunk_docs)
        chunk_kw = dict(kw)
        if c > 0:
            chunk_kw["heavy_docs"] = 0  # whales once, like the fixtures
        tmp = os.path.join(path, f"_chunk{c:03d}")
        write_documents_parquet(
            tmp,
            n_docs=n,
            seed=seed + c,
            include_fixtures=(c == 0),
            shards=shards_per_chunk,
            **chunk_kw,
        )
        if not os.path.isdir(tmp):  # one shard is written as one file
            os.rename(tmp, os.path.join(path, f"part-{c:03d}-00000.parquet"))
            continue
        for fn in sorted(os.listdir(tmp)):
            os.rename(
                os.path.join(tmp, fn),
                os.path.join(path, f"part-{c:03d}-{fn.split('-')[1]}"),
            )
        os.rmdir(tmp)


# vocabulary for the flat-text bench corpus (French clinical-ish filler —
# enough distinct forms that shingle/minhash statistics behave naturally)
_TEXT_VOCAB = (
    "patient patiente examen clinique traitement consultation service "
    "hospitalisation intervention diagnostic antécédent évolution douleur "
    "abdominale thoracique chronique aiguë bilan biologique radiologique "
    "prescription médicament posologie perfusion chirurgie anesthésie "
    "complication surveillance sortie domicile suivi contrôle résultat "
    "normal anormal stable favorable défavorable gauche droite sans avec "
    "pour dans les des une aux par sur est sont été avoir suite depuis"
).split()


def synthetic_text_documents_pdf(
    n_docs: int, seed: int = SEED, words_per_doc: int = 55
) -> pd.DataFrame:
    """Seeded FLAT-TEXT corpus matching the driver's `documents` table shape
    (doc_id, text, lang, source, n_chars) — the bench-only input for running
    the LLM-data operators at tiers the driver does not ship (sf1). The
    default word count matches the driver tiers' ~54-word average so
    cross-tier walls compare iso-shape (docs × length both scale 10×, not
    44×). ~1% of documents are exact duplicates and ~2% near-duplicates
    (one word changed) of an earlier doc, so dedup workloads see a natural
    positive rate. Vectorized generation: one word-index matrix, one join
    pass."""
    rng = np.random.default_rng(seed)
    lens = np.maximum(
        rng.lognormal(np.log(words_per_doc), 0.4, n_docs).astype(int), 20
    )
    vocab = np.array(_TEXT_VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens
    ]
    # duplicate tail: exact copies + near copies of earlier documents
    n_exact = n_docs // 100
    n_near = n_docs // 50
    for j in range(n_exact):
        texts[n_docs - 1 - j] = texts[j]
    for j in range(n_near):
        base = texts[n_exact + j].split()
        base[len(base) // 2] = "modifié"
        texts[n_docs - 1 - n_exact - j] = " ".join(base)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": "fr",
            "source": np.array(["hopital", "clinique", "labo", "archive"],
                               dtype=object)[
                rng.integers(0, 4, n_docs)
            ],
            "n_chars": [len(t) for t in texts],
        }
    )


def write_text_documents_parquet(
    path: str, n_docs: int, seed: int = SEED, shards: int = 16
) -> None:
    """Materialize the flat-text corpus as a sharded parquet directory named
    `documents.parquet` so textops queries read it as an sf_dir drop-in."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = synthetic_text_documents_pdf(n_docs, seed=seed)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    os.makedirs(path, exist_ok=True)
    n = len(pdf)
    step = (n + shards - 1) // shards
    for s in range(shards):
        lo = s * step
        if lo >= n:
            break
        # whole-shard row groups ON PURPOSE, unlike write_documents_parquet:
        # row-group sizing follows the CONSUMER. The span corpus feeds
        # Python-kernel map stages (fine 256-doc groups let split hints
        # fan out fully — sf1 NER 95s → 32s); this text corpus feeds
        # JVM shuffle pipelines (explode → minhash → band self-join) whose
        # bottleneck is post-shuffle, and finer groups measurably HURT:
        # 512-doc groups read 20.9s cold / 5.9s warm on the sf1 neardup
        # leg vs 8.7 / 4.7 with whole-shard groups (more scan tasks →
        # more, smaller cached partitions for every materialized
        # intermediate, no kernel to feed).
        pq.write_table(
            table.slice(lo, step), os.path.join(path, f"part-{s:05d}.parquet")
        )


# pinned NER training tokens (createTrainingFrenchMedicalNER analog):
# every content token of the NER fixtures with its decoded label,
# 'other' negatives included (the CRF refit consumes full sequences);
# audited against the pinned ner_entities span oracle
FX_NER_TRAINING = {
    "fx-ner-0004": [
        (0, 0, "Madame", "persname"),
        (0, 1, "Belle", "persname"),
        (0, 2, "Joseline", "persname"),
        (0, 3, "DUPONT", "persname"),
        (0, 4, ",", "other"),
        (0, 5, "âgée", "other"),
        (0, 6, "de", "other"),
        (0, 7, "50", "age"),
        (0, 8, "ans", "age"),
        (0, 9, ",", "other"),
        (0, 10, "née", "other"),
        (0, 11, "le", "other"),
        (0, 12, "07/08/1970", "date"),
        (0, 13, ".", "other"),
        (1, 0, "Arthrite", "pathology"),
        (1, 1, "septique", "pathology"),
        (1, 2, "du", "other"),
        (1, 3, "genou", "anatomy"),
        (1, 4, "droit", "anatomy"),
        (1, 5, "à", "other"),
        (1, 6, "Corynebacterium", "substance"),
        (1, 7, "traitée", "other"),
        (1, 8, "par", "other"),
        (1, 9, "Daptomycine", "medicament"),
        (1, 10, "1500", "medicament"),
        (1, 11, "mg", "medicament"),
        (1, 12, "puis", "other"),
        (1, 13, "Linézolide", "medicament"),
        (1, 14, "600", "medicament"),
        (1, 15, "mg", "medicament"),
        (1, 16, ".", "other"),
        (2, 0, "Lavage", "procedure"),
        (2, 1, "articulaire", "procedure"),
        (2, 2, "et", "other"),
        (2, 3, "synovectomie", "procedure"),
        (2, 4, "le", "other"),
        (2, 5, "14/08/2000", "date"),
        (2, 6, ",", "other"),
        (2, 7, "poursuite", "other"),
        (2, 8, "de", "other"),
        (2, 9, "Daptomycine", "medicament"),
        (2, 10, "jusqu'au", "other"),
        (2, 11, "9/09/2000", "date"),
        (2, 12, ".", "other"),
        (3, 0, "Ordonnance", "other"),
        (3, 1, "validée", "other"),
        (3, 2, "par", "other"),
        (3, 3, "Docteur", "persname"),
        (3, 4, "Hakuna", "persname"),
        (3, 5, "Matata", "persname"),
        (3, 6, "ROUX", "persname"),
        (3, 7, ".", "other"),
        (4, 0, "Ostéomyélite", "pathology"),
        (4, 1, "confirmée", "other"),
        (4, 2, ",", "other"),
        (4, 3, "traitée", "other"),
        (4, 4, "par", "other"),
        (4, 5, "Clindamycine", "medicament"),
        (4, 6, "600", "medicament"),
        (4, 7, "mg", "medicament"),
        (4, 8, ".", "other"),
    ],
    "fx-ner-0018": [
        (0, 0, "Perfusion", "other"),
        (0, 1, "de", "other"),
        (0, 2, "Pristinamycine", "medicament"),
        (0, 3, "2", "medicament"),
        (0, 4, "g", "medicament"),
        (0, 5, "puis", "other"),
        (0, 6, "relais", "other"),
        (0, 7, "par", "other"),
        (0, 8, "Oxacilline", "medicament"),
        (0, 9, "et", "other"),
        (0, 10, "Lévofloxacine", "medicament"),
        (0, 11, ".", "other"),
        (1, 0, "Suspicion", "other"),
        (1, 1, "de", "other"),
        (1, 2, "bronchiolite", "pathology"),
        (1, 3, ".", "other"),
    ],
    "fx-ner-0022": [
        (0, 0, "Fax", "other"),
        (0, 1, ":", "other"),
        (0, 2, "01", "fax"),
        (0, 3, "45", "fax"),
        (0, 4, "17", "fax"),
        (0, 5, "80", "fax"),
        (0, 6, "01", "fax"),
        (0, 7, ".", "other"),
        (0, 8, "Transfert", "other"),
        (0, 9, "vers", "other"),
        (0, 10, "Paris", "location"),
        (0, 11, "prévu", "other"),
        (0, 12, ".", "other"),
        (1, 0, "La", "other"),
        (1, 1, "patiente", "perstype"),
        (1, 2, "est", "other"),
        (1, 3, "stable", "other"),
        (1, 4, ".", "other"),
        (1, 5, "Appelez", "other"),
        (1, 6, "le", "other"),
        (1, 7, "médecin", "perstype"),
        (1, 8, "au", "other"),
        (1, 9, "Tél", "other"),
        (1, 10, ":", "other"),
        (1, 11, "01", "phone"),
        (1, 12, "42", "phone"),
        (1, 13, "16", "phone"),
        (1, 14, "10", "phone"),
        (1, 15, "00", "phone"),
        (1, 16, ".", "other"),
    ],
}


# pinned ANONYMIZED segmenter training lines (createTrainingAnonym
# analog): the A2 supervision table with the A1 pseudonymization chain
# applied to the line text — pseudonyms/rotations audited against the
# anonymize_text semantics (doc-keyed digits, per-person names drawn
# from the r5 64×64 pseudonym space)
FX_ANON_TRAINING = {
    "fx-cover-0011": [
        (0, "COMPTE RENDU D'HOSPITALISATION", "titlePage"),
        (1, "Hôpital de BEAUMONT", "titlePage"),
        (2, "Le 37.28.4243", "titlePage"),
        (5, "N° 4243-222345", "header"),
        (6, "Dr Simon PETIT", "header"),
        (8, "SYNTHÈSE MÉDICALE", "body"),
        (10, "EVOLUTION :", "body"),
        (11, "L'évolution clinique est favorable sous traitement adapté.", "body"),
    ],
    "fx-full-0001": [
        (0, "N° 9777-890123", "header"),
        (1, "COMPTE RENDU OPÉRATOIRE", "header"),
        (2, "Le 96.71.9777", "header"),
        (4, "Pôle Femmes-Adolescents-Mères-Enfants SERVICE DE GYNECOLOGIE OBSTETRIQUE", "header"),
        (5, "28, Avenue du Mal de Lattre de Tassigny 61787 BELLEVUE Cedex", "header"),
        (7, "Opérateur : Dr Victor GARCIA ; Assistant : Dr Lina LAURENT ; Anesthésiste : Dr Sacha LAMBERT", "header"),
        (8, "IPP 577766778", "header"),
        (9, "Madame Morgan MICHEL, née le 78/78/8667, 94 ans", "header"),
        (10, "333, Avenue de la République LE BELLEVUE BELLEVUE", "header"),
        (12, "Chef de Service : Pr. Bruno RICHARD. Gautier", "leftnote"),
        (13, "Secrétariat : 78 77 77 77 77", "leftnote"),
        (14, "Fax : 78 77 77 77 77", "leftnote"),
        (16, "HYSTÉRECTOMIE PAR COELIOSCOPIE", "body"),
        (18, "DIAGNOSTIC :", "body"),
        (19, "Fibrome utérin symptomatique.", "body"),
        (21, "RAPPEL CLINIQUE :", "body"),
        (22, "Antécédents :", "body"),
        (23, "Patiente de 94 ans, sans antécédent notable.", "body"),
        (24, "Suivie pour fibrome utérin depuis 8665.", "body"),
        (26, "Histoire de la maladie :", "body"),
        (27, "La patiente présente des douleurs pelviennes.", "body"),
        (29, "INTERVENTION :", "body"),
        (30, "Incision et exérèse réalisées sans complication.", "body"),
        (31, "Avis pris auprès du Dr Adam GIRARD.", "body"),
        (32, "Les suites opératoires sont simples.", "body"),
        (33, "", "body"),
        (34, "Figure 8 : vue opératoire.", "body"),
        (35, "Compte rendu validé électroniquement - Hôpital de BELLEVUE", "footnote"),
        (36, "8", "page"),
        (38, "CONCLUSION :", "body"),
        (39, "Hystérectomie totale sans complication.", "body"),
        (40, "Compte rendu validé électroniquement - Hôpital de BELLEVUE", "footnote"),
        (41, "9", "page"),
    ],
}


# pinned leftnote-model training labels (createTraining analog for the
# left-note zone): leftnote-zone line seq → field label, audited against
# the LeftNoteMedicalItem field vocabulary
FX_LEFTNOTE_TRAINING = {
    "fx-full-0001": [
        (12, "medic"), (13, "phone"), (14, "fax"),
    ],
    "fx-note-0003": [
        (0, "organization"), (1, "medic"), (2, "phone"),
        (3, "fax"), (4, "email"),
    ],
    "fx-note-0021": [
        (0, "organization"), (1, "medic"), (2, "phone"), (3, "email"),
    ],
}
