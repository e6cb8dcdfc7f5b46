"""The *duplicate-records* cleaner variant — byte-identical to the reference's
second preprocessing module (/root/reference/src/duplike_preprocess/
preprocess_duplicate.py). The primary extractor (extract.py) implements the
``preprocess_jira`` contract; this module covers the variant the reference
uses for its duplicate-records Excel export. Behavioral differences, each
cited to the variant source:

* **No lowercasing** — ``clean_description`` (:343-356) and ``clean_summary``
  (:358-363) never call ``.lower()``.
* **Real smart-single-quote folding** (:306): ``’``/``‘`` → ``'`` (the jira
  variant's line tokenizes into a no-op quirk; this one executes as written).
  The double-quote line (:305) replaces ASCII 0x22 with itself twice — a
  no-op we do not repeat.
* **Case-sensitive platform normalization** (:271-276): the 4 PLATFORM_PATTERNS
  entries are applied WITHOUT re.IGNORECASE (so ``ios`` stays ``ios``), and
  there are no extra lowercase-specific substitutions.
* **URL-encoded URL masking** (:78-82, :237-247): the URL pattern also
  matches ``https%3A%2F%2F…`` forms, which are percent-decoded before
  hostname extraction.
* **Section headers match ``Test Steps`` with a mandatory ``s``** (:291) —
  the jira variant accepts ``Test Step:`` too.

Steps with identical semantics are imported from extract.py rather than
copied; tests/test_extract_duplicate.py diffs this module against the
imported reference variant over the same adversarial + fuzz corpora used for
the primary contract.
"""

from __future__ import annotations

import re
import unicodedata
from urllib.parse import unquote, urlparse

from .extract import (
    RE_SEMVER_INNER_WS,
    _URL_TRAILING_PUNCT,
    collapse_inline_whitespace,
    fix_permission_spacing,
    normalize_linebreaks,
    normalize_semver_in_text,
    standardize_metadata_keys,
    strip_jira_markup,
    RE_EMAIL,
    RE_TR_PHONE,
    RE_MSISDN,
    RE_IPV4,
    RE_UPPER_ID,
    RE_ORPHAN_STAR,
    RE_HASH_BULLET,
    RE_ALL_WS,
)

# URL pattern with percent-encoded variants (:78-82)
RE_URL_DUP = re.compile(
    r"((?:https?|ftp)://[^\s<>()\[\]{}\"'`]+|www\.[^\s<>()\[\]{}\"'`]+"
    r"|https?%3A%2F%2F[^\s<>()\[\]{}\"'`]+|http%3A%2F%2F[^\s<>()\[\]{}\"'`]+)",
    re.IGNORECASE,
)

# Case-SENSITIVE platform canonicalization (:95-100 applied at :271-276)
_PLATFORM_SUBS_DUP = [
    (re.compile(r"\bIOS\b"), "iOS"),
    (re.compile(r"\bAndroid\b"), "Android"),
    (re.compile(r"\biPhone\b"), "iPhone"),
    (re.compile(r"\biPad\b"), "iPad"),
]

# Section canonicalization (:289-299) — note mandatory 's' in "Steps"
_SECTION_HEADERS_DUP = [
    (re.compile(r"^\s*\*?Test\s*Steps\*?\s*:\s*", re.MULTILINE | re.IGNORECASE), "Test Steps:\n"),
    (re.compile(r"^\s*\*?Actual\s*Result\*?\s*:\s*", re.MULTILINE | re.IGNORECASE), "Actual Result:\n"),
    (re.compile(r"^\s*\*?Expected\s*Result\*?\s*:\s*", re.MULTILINE | re.IGNORECASE), "Expected Result:\n"),
]
_SECTION_BLANKLINE_DUP = [
    (re.compile(r"(\n|^)(Test Steps:)"), r"\1\n\2"),
    (re.compile(r"(\n|^)(Actual Result:)"), r"\1\n\2"),
    (re.compile(r"(\n|^)(Expected Result:)"), r"\1\n\2"),
]


def normalize_unicode_dup(text: str) -> str:
    """NFKC + real smart-single-quote + dash folding (:302-308)."""
    if not text:
        return ""
    text = unicodedata.normalize("NFKC", text)
    # :305 replaces '"' with '"' twice — no-ops we don't repeat
    text = text.replace("’", "'").replace("‘", "'")  # :306
    text = text.replace("–", "-").replace("—", "-")  # :307
    return text


def _mask_one_url_dup(match: re.Match) -> str:
    url = match.group(1)
    tail = ""
    if url.endswith(_URL_TRAILING_PUNCT):
        tail = url[-1]
        url = url[:-1]
    try:
        if url.startswith(("http%3A%2F%2F", "https%3A%2F%2F")):
            parsed = urlparse(unquote(url))
            hostname = parsed.hostname or parsed.netloc
        elif url.startswith("www."):
            hostname = url[4:]
        else:
            parsed = urlparse(url)
            hostname = parsed.hostname or parsed.netloc
        if hostname and hostname.startswith("www."):
            hostname = hostname[4:]
        return f"[PRESENT domain={hostname}]" + tail
    except Exception:
        return "[PRESENT]" + tail


def mask_urls_dup(text: str) -> str:
    if not text:
        return ""
    return RE_URL_DUP.sub(_mask_one_url_dup, text)


def mask_pii_dup(text: str) -> str:
    """Email/phone/MSISDN/IP/URL/ID masking, variant order (:259-269)."""
    if not text:
        return ""
    text = RE_EMAIL.sub("[PRESENT]", text)
    text = RE_TR_PHONE.sub("[PRESENT]", text)
    text = RE_MSISDN.sub(r"\1: [PRESENT]", text)
    text = RE_IPV4.sub("[PRESENT]", text)
    text = mask_urls_dup(text)
    text = RE_UPPER_ID.sub("[PRESENT]", text)
    return text


def canonicalize_sections_dup(text: str) -> str:
    if not text:
        return ""
    for pat, repl in _SECTION_HEADERS_DUP:
        text = pat.sub(repl, text)
    text = RE_ORPHAN_STAR.sub("", text)
    text = RE_HASH_BULLET.sub("", text)
    for pat, repl in _SECTION_BLANKLINE_DUP:
        text = pat.sub(repl, text)
    return text


def normalize_platform_names_dup(text: str) -> str:
    if not text:
        return ""
    for pat, repl in _PLATFORM_SUBS_DUP:
        text = pat.sub(repl, text)
    return text


def clean_description_duplicate(text: str) -> str:
    """The variant's 10-step description cleaner (:343-356) — no lower()."""
    if not text:
        return ""
    text = normalize_unicode_dup(text)
    text = strip_jira_markup(text)
    text = normalize_linebreaks(text)
    text = canonicalize_sections_dup(text)
    text = mask_pii_dup(text)
    text = fix_permission_spacing(text)
    text = standardize_metadata_keys(text)
    text = normalize_platform_names_dup(text)
    text = normalize_semver_in_text(text)
    text = collapse_inline_whitespace(text)
    return text.strip()


def clean_summary_duplicate(text: str) -> str:
    """The variant's summary cleaner (:358-363) — no lower()."""
    if not text:
        return ""
    text = normalize_unicode_dup(text)
    text = strip_jira_markup(text)
    text = mask_pii_dup(text)
    text = normalize_platform_names_dup(text)
    text = normalize_semver_in_text(text)
    return RE_ALL_WS.sub(" ", text).strip()


def normalize_semver_column_duplicate(version: str) -> str:
    """Version-column normalizer (:369-374) — identical math to the jira
    variant's, re-exported here for the variant's API surface."""
    if not version:
        return ""
    version = re.sub(r"^v\s*", "", version.strip())
    return RE_SEMVER_INNER_WS.sub(".", version).strip()
