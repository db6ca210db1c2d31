"""The fixed 9-label quality taxonomy and label-set parsing.

Semantics from the reference taxonomy (``src/filter_by_quality_label.py:104-139``,
``src/prep_data_for_training.py:49-60``, ``src/label_lines_with_LLM.py:70-81``):
"Clean" is pinned first (id 0), shorthand aliases map to canonical names,
``"all"`` expands to every non-Clean label, and unknown labels raise.
Invalid *predicted* labels coerce to "Clean"
(``src/label_lines_with_LLM.py:341-354``, ``src/prep_data_for_training.py:40-42``);
the Spark coercion is in ``teacher.label_lines_with_teacher``.
"""

from __future__ import annotations

# Canonical taxonomy; "Clean" MUST stay first (id 0).
LABELS: list[str] = [
    "Clean",
    "Bibliographical & Citation References",
    "Contact & Identification Information",
    "Formatting, Style & Errors",
    "Legal & Administrative Content",
    "Navigation & Interface Elements",
    "Offensive or Inappropriate Content",
    "Promotional & Spam Content",
    "Technical Specifications & Metadata",
]

CLEAN: str = LABELS[0]

LABEL_TO_ID: dict[str, int] = {label: i for i, label in enumerate(LABELS)}

SHORTHAND: dict[str, str] = {
    "clean": LABELS[0],
    "citations": LABELS[1],
    "contact": LABELS[2],
    "errors": LABELS[3],
    "legal": LABELS[4],
    "interface": LABELS[5],
    "toxic": LABELS[6],
    "spam": LABELS[7],
    "tech": LABELS[8],
}


def parse_labels(spec: str | list[str]) -> list[str]:
    """Parse a label spec into canonical label names.

    ``"all"`` -> every non-Clean label; comma-separated string or list of
    shorthand/canonical names otherwise; unknown labels raise ValueError.
    Mirrors ``src/filter_by_quality_label.py:104-139``.
    """
    if isinstance(spec, str):
        if spec == "all":
            return LABELS[1:]
        parts = [p.strip() for p in spec.split(",")]
    else:
        parts = [p.strip() for p in spec]
    resolved = [SHORTHAND.get(p, p) for p in parts]
    for label in resolved:
        if label not in LABELS:
            raise ValueError(f"Label '{label}' is not a valid quality label.")
    return resolved
