"""Shared regex patterns for the heuristic rule engine and the PII scrubber.

These constants are the single source of truth used by two consumers that
must agree byte-for-byte:

1. Spark Catalyst expressions (Java ``java.util.regex``) in ``rules.py`` /
   ``scrub.py``;
2. the pure-Python golden oracle in ``tests/oracle.py`` (``re``).

Every pattern is written in the common subset of those two dialects and
RE2 (so the rules also port to RE2 engines such as ``pyarrow.compute``):
NO backreferences, NO lookaround, NO inline flags inside the
pattern (Python ≥3.11 rejects mid-pattern ``(?i)``; use ``ci()`` to prefix
the whole composed pattern instead), ``\\p{L}`` for Unicode letters (Java +
RE2; the Python oracle counts letters via ``str.isalpha`` which matches the
same L* categories), and explicit whitespace classes instead of ``\\s``
(Java ``\\s`` is ASCII-only while Python's is Unicode-aware).

Known limitation (found by fuzzing, tests/test_property_parity.py):
codepoints *assigned after Unicode 13* classify differently across the
three engines (Python 3.11 carries Unicode 14 tables, Java 17 carries 13,
RE2 its own) — e.g. U+9FFE is ``\\p{L}`` to Python but unassigned to Java.
Long-stable ranges (ASCII, Latin, Greek, Cyrillic, the original CJK block)
agree everywhere; parity is guaranteed for those.

The rule *content* re-expresses the reference's label definitions — the
prompt taxonomy at ``/root/reference/src/prompts.py:170-193`` (navigation,
boilerplate, garbled/symbol-heavy text, code/markup, contact info, spam,
offensive content, legal, citations) — as deterministic regex/ratio rules
instead of an XLM-R classifier (``src/classifier_inference_pipeline.py:37-124``).
"""

from __future__ import annotations


def ci(pattern: str) -> str:
    """Prefix a whole pattern with the case-insensitive flag (the only
    placement all three regex dialects agree on)."""
    return "(?i)" + pattern


# Explicit ASCII whitespace class (see module docstring).
WS_CLASS = r"[ \t\r\n\x0B\f]"

# --- PII / contact (case-sensitive parts) ----------------------------------
EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PHONE = r"\+?[0-9][0-9()\-\. ]{6,}[0-9]"
URL = r"(?:https?://|www\.)[^ \t\r\n]+"
IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
LONG_ID = r"\b[0-9]{9,}\b"
CONTACT_MARKER = r"\b(contact us|call us|tel:|email us|e-mail us|fax:)"

# --- label rules (compose with ci() at use sites) --------------------------
HTML_TAG = r"</?[A-Za-z][^>]*>"
TECH_MARKER = (
    r"(^(user-agent|content-type|accept-encoding|x-[a-z\-]+):"
    r"|\b[0-9a-f]{32}\b"
    r"|```"
    r"|\b(text/html|utf-8|charset=|http/1\.[01])\b"
    r"|[{};]{2,})"
)
LEGAL = (
    r"(\b(all rights reserved|terms of service|terms and conditions"
    r"|privacy policy|cookie policy|legal notice|disclaimer"
    r"|gdpr compliance)\b|\(c\) [0-9]{4}|©)"
)
CITATION = (
    r"(et al\.|doi:[0-9]|\[[0-9]{1,3}\]|pp\. ?[0-9]|vol\. ?[0-9]"
    r"|isbn [0-9\-]|ibid\.)"
)
NAVIGATION = (
    r"\b(home ?page|log ?in|sign ?up|next page|previous page|click here"
    r"|main menu|site ?map|back to top|skip to content|read more"
    r"|search results|breadcrumb|navigation bar|toggle menu)\b"
)
SPAM = (
    r"(\b(buy now|limited time offer|discount code|free shipping"
    r"|subscribe now|casino|jackpot|winner winner|claim your prize"
    r"|100% free|act now|best price guaranteed|order today)\b|!!!)"
)
TOXIC = (
    r"\b(you (are|re) an idiot|total moron|stupid fool|i hate you"
    r"|shut up forever|worthless loser|garbage person|trash human)\b"
)
SYMBOL_RUN = r"[\-_=*#~$%^&+|\\/.]{5,}"

# --- scrubber replacement chain (order matters; applied top to bottom) -----
# EMAIL before URL so addresses are not half-eaten as domains; PHONE after
# IPV4 so dotted quads don't read as phone digit runs.
SCRUB_CHAIN: list[tuple[str, str]] = [
    (EMAIL, "<EMAIL>"),
    (URL, "<URL>"),
    (IPV4, "<IP>"),
    (PHONE, "<PHONE>"),
    (LONG_ID, "<ID>"),
    (ci(TOXIC), "<TOXIC>"),
]
