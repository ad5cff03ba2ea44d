"""Gazetteers / dictionary flags (SURVEY.md §2.3 F8).

Capability parity with the reference's lexicon layer:
- core GROBID Lexicon flags used by the featurizers (months, common names,
  location/title/suffix words — e.g. HeaderMedicalParser.java:514-516,
  FeaturesVectorMedical dictionary flags),
- the module's 10 UMLS-style medical sets + drug list
  (MedicalNERLexicon.java:26-104: ANAT/CHEM/DEVI/DISO/GEOG/LIVB/OBJC/PHEN/
  PHYS/PROC), here as small deterministic French clinical gazetteers.

At scale these sets are broadcast once per executor (module-level constants
pickled into the UDF closure are fine at this size; larger gazetteers would go
through `SparkContext.broadcast` — see pipeline.py).

All matching is vectorized: pandas `str` ops / `isin` over whole columns,
never per-row Python loops.
"""

from __future__ import annotations

import re

# --- calendar (core FeatureFactory month/year flags) ------------------------
MONTHS_FR = {
    "janvier": 1, "février": 2, "fevrier": 2, "mars": 3, "avril": 4,
    "mai": 5, "juin": 6, "juillet": 7, "août": 8, "aout": 8,
    "septembre": 9, "octobre": 10, "novembre": 11, "décembre": 12,
    "decembre": 12,
}

ROLE_WORDS = {
    "chef", "service", "opérateur", "operateur", "assistant", "assistante",
    "anesthésiste", "anesthesiste", "chirurgien", "radiologue", "secrétariat",
    "secretariat", "interne", "externe", "praticien", "attaché", "attache",
}

# --- address / location (core Lexicon location flags) -----------------------
STREET_WORDS = {
    "rue", "avenue", "boulevard", "bd", "place", "chemin", "allée", "allee",
    "impasse", "quai", "route", "cours",
}
CITIES_FR = {
    "paris", "créteil", "creteil", "lyon", "marseille", "bicêtre", "bicetre",
    "kremlin", "villejuif", "bondy", "colombes", "clamart", "chatenay",
    "malabry", "garches", "suresnes", "boulogne", "clichy", "bobigny",
}

ORG_WORDS = {
    "hôpital", "hopital", "chu", "ghu", "aphp", "ap-hp", "pôle", "pole",
    "service", "département", "departement", "unité", "unite", "centre",
    "clinique", "institut", "gynecologie", "gynécologie", "cardiologie",
    "pédiatrie", "pediatrie", "urgences", "radiologie", "chirurgie",
}

DOCTYPE_WORDS = {
    "compte", "rendu", "opératoire", "operatoire", "ordonnance", "courrier",
    "consultation", "hospitalisation", "examen", "certificat", "prescription",
}

# --- UMLS-style medical sets (MedicalNERLexicon.java:26-104) -----------------
ANATOMY = {
    "genou", "épaule", "epaule", "hanche", "coude", "cheville", "poignet",
    "abdomen", "thorax", "crâne", "crane", "fémur", "femur", "tibia",
    "articulation", "utérus", "uterus", "ovaire", "rein",
    "foie", "poumon", "coeur", "cœur", "rachis", "bras", "jambe",
}
# adjectives that extend the preceding entity span rather than open one
# ('genou droit', 'lavage articulaire')
SIDE_WORDS = {"droit", "droite", "gauche", "articulaire", "totale", "total",
              "partielle", "partiel"}
PATHOLOGY = {
    "arthrite", "septique", "infection", "fracture", "tumeur", "kyste",
    "hernie", "appendicite", "péritonite", "peritonite", "abcès", "abces",
    "nécrose", "necrose", "hémorragie", "hemorragie", "fibrome", "luxation",
}
MEDICAMENTS = {
    "daptomycine", "linézolide", "linezolide", "paracétamol", "paracetamol",
    "amoxicilline", "ibuprofène", "ibuprofene", "héparine", "heparine",
    "morphine", "insuline", "aspirine", "vancomycine", "ceftriaxone",
}
SUBSTANCES = {
    "corynebacterium", "staphylocoque", "streptocoque", "escherichia",
    "pseudomonas", "candida", "iode", "bétadine", "betadine",
}
PROCEDURES = {
    "lavage", "arthroscopique", "arthroscopie", "synovectomie", "ponction",
    "biopsie", "suture", "exérèse", "exerese", "coelioscopie", "cœlioscopie",
    "hystérectomie", "hysterectomie", "césarienne", "cesarienne", "incision",
    "drainage", "ablation", "ostéosynthèse", "osteosynthese",
}
# tokens whose -ite/-émie/... endings are NOT pathologies (suffix-feature
# guard, kernels/subparsers.token_features suf_patho)
SUF_PATHO_EXCLUDE = {
    "suite", "suites", "visite", "visites", "limite", "limites", "droite",
    "conduite", "conduites", "petite", "petites", "site", "sites",
    "gratuite", "ensuite", "poursuite", "poursuites", "réussite",
    "réussites", "fuite", "fuites", "cuite",
}

SYMPTOMS = {
    "douleur", "fièvre", "fievre", "œdème", "oedeme", "gonflement", "toux",
    "fatigue", "nausée", "nausee", "vomissement", "vertige",
}
DEVICES = {"prothèse", "prothese", "cathéter", "catheter", "drain", "sonde",
           "implant", "stent", "plaque", "vis"}
LIVING = {"patient", "patiente", "nouveau-né", "nourrisson", "enfant"}
PHYSIOLOGY = {"fonction", "mobilité", "mobilite", "flexion", "extension",
              "respiration", "circulation"}
DOSE_UNITS = {"mg", "g", "ml", "ml.", "ui", "mg/j", "g/j", "µg", "mcg",
              "comprimé", "comprime", "gélule", "gelule"}

MEDICAL_SETS = {
    "anatomy": ANATOMY,
    "pathology": PATHOLOGY,
    "medicament": MEDICAMENTS,
    "substance": SUBSTANCES,
    "procedure": PROCEDURES,
    "symptom": SYMPTOMS,
    "device": DEVICES,
    "living": LIVING,
    "physiology": PHYSIOLOGY,
}

# --- regex patterns (FeatureFactory email/http/digit tests) ------------------
RE_DATE = re.compile(
    r"\b\d{1,2}[./-]\d{1,2}[./-]\d{2,4}\b|\b\d{4}-\d{2}-\d{2}\b"
)
RE_TIME = re.compile(r"\b\d{1,2}[:hH]\d{2}\b")
RE_PHONE = re.compile(r"\b0\d(?:[ .-]?\d{2}){4}\b")
RE_EMAIL = re.compile(r"\b[\w.+-]+@[\w-]+\.[\w.]+\b")
RE_WEB = re.compile(r"\b(?:https?://|www\.)\S+\b")
RE_POSTCODE = re.compile(r"\b\d{5}\b")

STOPWORDS_FR = {
    "le", "la", "les", "de", "des", "du", "un", "une", "et", "ou", "à", "a",
    "au", "aux", "en", "par", "pour", "sur", "dans", "avec", "sans", "ce",
    "cette", "ces", "son", "sa", "ses", "est", "sont", "été", "ete", "être",
    "etre", "qui", "que", "ne", "pas", "plus", "puis", "d'une", "d'un", "l",
    "d", "il", "elle", "nous", "vous",
}
