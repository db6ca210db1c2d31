"""A9: language-code → language-name lookup.

The reference maintains a 45-language dict mapping human-readable names to
lists of ISO 639-3 + script codes and resolves its configured code against
it (``src/label_lines_with_LLM.py:381-438``, ``code_to_language``).  Here
the table is flattened to code → name and exposed as a broadcast
``create_map`` literal — the canonical tiny-dimension pattern (a map
literal lives in the plan itself; no join, no shuffle).  Unknown codes
resolve to ``"Unknown"`` (the reference raises ValueError; a relational
operator must stay total).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# flattened from src/label_lines_with_LLM.py:382-433 (name -> [codes])
LANGUAGE_NAMES: dict[str, str] = {
    "bul_Cyrl": "Bulgarian",
    "ces_Latn": "Czech",
    "dan_Latn": "Danish",
    "deu_Latn": "German",
    "ell_Grek": "Greek",
    "eng_Latn": "English",
    "est_Latn": "Estonian",
    "ekk_Latn": "Estonian",
    "fin_Latn": "Finnish",
    "fra_Latn": "French",
    "gle_Latn": "Irish",
    "hrv_Latn": "Croatian",
    "hun_Latn": "Hungarian",
    "ita_Latn": "Italian",
    "lav_Latn": "Latvian",
    "ltg_Latn": "Latvian",
    "lvs_Latn": "Latvian",
    "lit_Latn": "Lithuanian",
    "mlt_Latn": "Maltese",
    "nld_Latn": "Dutch",
    "pol_Latn": "Polish",
    "por_Latn": "Portuguese",
    "ron_Latn": "Romanian",
    "slk_Latn": "Slovak",
    "slv_Latn": "Slovene",
    "spa_Latn": "Spanish",
    "swe_Latn": "Swedish",
    "bos_Latn": "Bosnian",
    "cat_Latn": "Catalan",
    "eus_Latn": "Basque",
    "glg_Latn": "Galician",
    "isl_Latn": "Icelandic",
    "kat_Geor": "Georgian",
    "mkd_Cyrl": "Macedonian",
    "sqi_Latn": "Albanian",
    "als_Latn": "Albanian",
    "srp_Cyrl": "Serbian",
    "srp_Latn": "Serbian",
    "tur_Latn": "Turkish",
    "ukr_Cyrl": "Ukrainian",
    "nno_Latn": "Norwegian",
    "nob_Latn": "Norwegian",
    "zho_Hans": "Simplified Chinese",
    "zho_Hant": "Traditional Chinese",
    "ara_Arab": "Arabic",
    "rus_Cyrl": "Russian",
    "tha_Thai": "Thai",
    "hin_Deva": "Hindi",
    "swh_Latn": "Swahili",
    "tel_Telu": "Telugu",
}

# deterministic iteration order for code-by-index constructions
LANGUAGE_CODES: list[str] = sorted(LANGUAGE_NAMES)

_NAME_MAP = None


def _name_map():
    global _NAME_MAP
    if _NAME_MAP is None:
        pairs = []
        for code in LANGUAGE_CODES:
            pairs.append(F.lit(code))
            pairs.append(F.lit(LANGUAGE_NAMES[code]))
        _NAME_MAP = F.create_map(*pairs)
    return _NAME_MAP


def lang_name_expr(code: Column) -> Column:
    """Map literal lookup; unknown codes → ``"Unknown"``."""
    return F.coalesce(F.element_at(_name_map(), code), F.lit("Unknown"))
