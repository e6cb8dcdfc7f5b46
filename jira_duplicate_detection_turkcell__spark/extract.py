"""Stage-0 text extraction — byte-identical to the reference cleaner.

The reference cleans Jira ticket text with an 11-step deterministic pure
function (``clean_description``, /root/reference/src/preprocess_jira.py:432-470)
and a 7-step summary variant (``clean_summary``, :472-498). The new engine's
per-row invariant (BASELINE.json ``input_hint``) is: for every url, the text
this module produces must be byte-identical to what the reference produces on
the same raw input. tests/test_extract.py enforces that by importing the
reference module as the oracle and diffing outputs over an adversarial corpus.

Everything here is a pure function of its input string; the Spark surface is
a single ``mapInPandas`` pass (`extract_docs`) so the whole contract
lives in one Python codepath — Python ``str.lower`` / ``unicodedata`` / ``re``
semantics differ subtly from Spark SQL string functions (e.g. Turkish İ → i̇),
so no step is translated to SQL expressions (SURVEY.md §7.5).

Behavioral notes reproduced deliberately (the contract is what the reference
*does*, not what its comments say):

* The reference's "smart double quote" conversion replaces ASCII ``"`` with
  itself (preprocess_jira.py:380 — both literals are 0x22 in the raw bytes),
  i.e. a no-op; smart double quotes are therefore NOT converted.
* Its "smart single quote" line (preprocess_jira.py:381) tokenizes as a
  triple-quoted string: the executed expression is
  ``text.replace(<', "\'").replace(>, "'")`` — it replaces the literal
  sequence ``, "'").replace(`` with ``'``. We reproduce that literal.
* Only en-dash (U+2013) and em-dash (U+2014) are really normalized to ``-``.
* ``normalize_semver_in_text`` (preprocess_jira.py:326-338) matches
  ``(?<!\\d)(\\d+\\.\\d+\\.\\d+)(?!\\d)`` — no whitespace can appear inside a
  match, so the inner space-stripping is a no-op; spaced versions like
  ``3 . 70 . 16`` pass through unchanged.
"""

from __future__ import annotations

import re
import unicodedata
from urllib.parse import urlparse

import pandas as pd

# --------------------------------------------------------------------------
# Pattern constants (behavioral contract — must match reference semantics;
# citations are to /root/reference/src/preprocess_jira.py)
# --------------------------------------------------------------------------

RE_EMAIL = re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b")  # :65
RE_TR_PHONE = re.compile(r"\b(?:\+?90|0)?5\d{2}[\s\-]?\d{3}[\s\-]?\d{2}[\s\-]?\d{2}\b")  # :66
RE_MSISDN = re.compile(r"(?i)\b(Msisdn)\s*:\s*\+?\d{7,15}\b")  # :67
RE_IPV4 = re.compile(r"\b(?:\d{1,3}\.){3}\d{1,3}\b")  # :68
RE_UPPER_ID = re.compile(r"\b[A-Z0-9]{8,}\b")  # :69
RE_URL = re.compile(
    r"((?:https?|ftp)://[^\s<>()\[\]{}\"'`]+|www\.[^\s<>()\[\]{}\"'`]+)",
    re.IGNORECASE,
)  # :72-75
RE_ORPHAN_STAR = re.compile(r"^\s*\*\s*$", re.MULTILINE)  # :83
RE_SEMVER = re.compile(r"(?<!\d)(\d+\.\d+\.\d+)(?!\d)")  # :106

# The triple-quote tokenization artifact (see module docstring).
_QUOTE_QUIRK_NEEDLE = ", \"'\").replace("

_URL_TRAILING_PUNCT = (".", ",", ";", ":", "!", "?", ")", "]", "}")

# Section header canonicalization (:348-352) — (pattern, replacement) pairs.
_SECTION_HEADERS = [
    (re.compile(r"^\s*\*?Test\s*Steps?\*?\s*:\s*", re.MULTILINE | re.IGNORECASE), "Test Steps:\n"),
    (re.compile(r"^\s*\*?Actual\s*Result\*?\s*:\s*", re.MULTILINE | re.IGNORECASE), "Actual Result:\n"),
    (re.compile(r"^\s*\*?Expected\s*Result\*?\s*:\s*", re.MULTILINE | re.IGNORECASE), "Expected Result:\n"),
]
_SECTION_BLANKLINE = [
    # (compiled pattern, replacement, literal guard: the canonical header
    # text every match must contain)
    (re.compile(r"(\n|^)(Test Steps:)"), r"\1\n\2", "Test Steps:"),
    (re.compile(r"(\n|^)(Actual Result:)"), r"\1\n\2", "Actual Result:"),
    (re.compile(r"(\n|^)(Expected Result:)"), r"\1\n\2", "Expected Result:"),
]

# Platform/device canonical casings (:98-103 then :317-322). The reference
# runs 8 sequential case-insensitive word subs; because every replacement is
# the word's canonical casing (so re-matching a replacement is a fixed
# point) and the four words cannot overlap (\b-delimited distinct literals),
# one alternation pass produces byte-identical output in 1 scan instead
# of 8. The canonical form is keyed by casefolded match; non-ASCII folds
# (İ/ı match ASCII i under Python's IGNORECASE) fall back to the word's
# last letter, which distinguishes the four words unambiguously.
RE_PLATFORM_ANY = re.compile(r"\b(?:ios|android|iphone|ipad)\b", re.IGNORECASE)
_PLATFORM_CANON = {"ios": "iOS", "android": "Android", "iphone": "iPhone", "ipad": "iPad"}
_PLATFORM_BY_LAST = {"s": "iOS", "d": "Android", "e": "iPhone"}


def _platform_repl(m: re.Match) -> str:
    w = m.group(0)
    hit = _PLATFORM_CANON.get(w.lower())
    if hit is not None:
        return hit
    last = w[-1].lower()
    if last != "d":
        return _PLATFORM_BY_LAST.get(last, w)
    return "iPad" if len(w) == 4 else "Android"

# Permission-key spacing fixes (:410-418): the raw pattern string doubles as
# the replacement template (it contains no regex metacharacters).
_PERMISSION_KEYS = [
    "CONTACT_PERMISSION:true",
    "STORAGE_PERMISSION:true",
    "SMS_PERMISSION:true",
    "BATTERY_OPTIMIZATION:true",
]

RE_H_HEADER = re.compile(r"^h\d+\.\s*", re.MULTILINE)  # :392
RE_CODE_BLOCK = re.compile(r"\{code\}.*?\{code\}", re.DOTALL)  # :395
RE_PANEL_BLOCK = re.compile(r"\{panel\}.*?\{panel\}", re.DOTALL)  # :396
RE_BLOCKQUOTE = re.compile(r"^bq\.\s*", re.MULTILINE)  # :397
RE_STAR_LINE = re.compile(r"^\s*\*+\s*$", re.MULTILINE)  # :400
RE_TRIPLE_NEWLINE = re.compile(r"\n\s*\n\s*\n+")  # :229
RE_HASH_BULLET = re.compile(r"^\s*#\s+", re.MULTILINE)  # :359
# :238 — the reference pattern is [ \t]+ → " "; a run of exactly one space
# maps to itself, so matching only runs that actually change (any run
# containing a tab, or ≥2 spaces) is byte-identical and skips the per-match
# churn on every single inter-word space
RE_SPACES_TABS = re.compile(r"[ \t]*\t[ \t]*| {2,}")
RE_EOL_SPACES = re.compile(r"[ \t]+$", re.MULTILINE)  # :240
RE_APP_VERSION_KEY = re.compile(r"App Version:")  # :428
# :496 — reference pattern \s+ → " "; restricted to runs that actually
# change (≥2 chars, or a single non-space whitespace char) — byte-identical
RE_ALL_WS = re.compile(r"\s{2,}|[^ \S]")
RE_SEMVER_INNER_WS = re.compile(r"\s*\.\s*")  # :335
RE_V_PREFIX = re.compile(r"^v\s*")  # :511


# --------------------------------------------------------------------------
# Cleaning steps — each a pure str -> str function
# --------------------------------------------------------------------------

def normalize_unicode(text: str) -> str:
    """NFKC + dash folding (+ the reference's quote-replace quirk)."""
    if not text:
        return ""
    text = unicodedata.normalize("NFKC", text)
    # reference :380 replaces '"' with '"' — a no-op we don't repeat.
    text = text.replace(_QUOTE_QUIRK_NEEDLE, "'")  # reference :381 as executed
    text = text.replace("–", "-").replace("—", "-")  # :382
    return text


def strip_jira_markup(text: str) -> str:
    if not text:
        return ""
    text = RE_H_HEADER.sub("", text)
    text = RE_CODE_BLOCK.sub("", text)
    text = RE_PANEL_BLOCK.sub("", text)
    text = RE_BLOCKQUOTE.sub("", text)
    text = RE_STAR_LINE.sub("", text)
    return text


def normalize_linebreaks(text: str) -> str:
    if not text:
        return ""
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    return RE_TRIPLE_NEWLINE.sub("\n\n", text)


def canonicalize_sections(text: str) -> str:
    if not text:
        return ""
    # literal guards: each header pattern requires its word (no ``i`` in
    # test/actual/expected, so plain lower() containment is exact; ſ and
    # fullwidth confusables are gone after NFKC upstream)
    tl = text.lower()
    needles = ("test", "actual", "expected")
    for (pat, repl), needle in zip(_SECTION_HEADERS, needles):
        if needle in tl:
            text = pat.sub(repl, text)
    if "*" in text:
        text = RE_ORPHAN_STAR.sub("", text)
    if "#" in text:
        text = RE_HASH_BULLET.sub("", text)
    for pat, repl, needle in _SECTION_BLANKLINE:
        if needle in text:
            text = pat.sub(repl, text)
    return text


def _mask_one_url(match: re.Match) -> str:
    url = match.group(1)
    tail = ""
    if url.endswith(_URL_TRAILING_PUNCT):
        tail = url[-1]
        url = url[:-1]
    try:
        if url.startswith("www."):
            hostname = url[4:]
        else:
            parsed = urlparse(url)
            hostname = parsed.hostname or parsed.netloc
        if hostname and hostname.startswith("www."):
            hostname = hostname[4:]
        return f"[PRESENT domain={hostname}]" + tail
    except Exception:
        return "[PRESENT]" + tail


def mask_pii(text: str) -> str:
    """Email/phone/MSISDN/IP/URL/ID masking, in reference order (:281-304).

    Each pattern requires a literal substring (``@``, ``5``, ``msisdn``,
    ``://``/``www.``); a C-level containment check skips the regex scan on
    the ~96% of documents that can't match. Guards are exact implications
    of the patterns — the only IGNORECASE subtlety is Turkish İ/ı, which
    match ASCII ``i`` without lowercasing to it, handled by the ``_i_risk``
    escape hatch (ſ and fullwidth forms are gone after NFKC upstream).
    """
    if not text:
        return ""
    if "@" in text:  # RE_EMAIL requires a literal '@'
        text = RE_EMAIL.sub("[PRESENT]", text)
    if "5" in text:  # RE_TR_PHONE requires a literal '5'
        text = RE_TR_PHONE.sub("[PRESENT]", text)
    tl = text.lower()
    _i_risk = "İ" in text or "ı" in tl
    if "msisdn" in tl or _i_risk:
        text = RE_MSISDN.sub(r"\1: [PRESENT]", text)
    text = RE_IPV4.sub("[PRESENT]", text)
    if "://" in text or "www." in tl:
        text = RE_URL.sub(_mask_one_url, text)
    text = RE_UPPER_ID.sub("[PRESENT]", text)
    return text


def fix_permission_spacing(text: str) -> str:
    if not text:
        return ""
    if ":true" not in text:  # every key ends with the literal ':true'
        return text
    for key in _PERMISSION_KEYS:
        text = re.sub(key, key.replace(":", ": "), text)
    return text


def standardize_metadata_keys(text: str) -> str:
    if not text:
        return ""
    return RE_APP_VERSION_KEY.sub("Application Version:", text)


def normalize_platform_names(text: str) -> str:
    if not text:
        return ""
    tl = text.lower()
    # literal guard: any regex match must contain ASCII i/o/s etc. that
    # lowercase into one of these substrings — except Turkish İ/ı, which
    # IGNORECASE-match ASCII i but don't lowercase to it (escape hatch)
    if (
        "ios" in tl or "android" in tl or "iphone" in tl or "ipad" in tl
        or "İ" in text or "ı" in tl
    ):
        return RE_PLATFORM_ANY.sub(_platform_repl, text)
    return text


def normalize_semver_in_text(text: str) -> str:
    if not text:
        return ""
    return RE_SEMVER.sub(lambda m: RE_SEMVER_INNER_WS.sub(".", m.group(1)), text)


def collapse_inline_whitespace(text: str) -> str:
    """Spaces/tabs → one space; strip EOL spaces; newlines preserved."""
    if not text:
        return ""
    text = RE_SPACES_TABS.sub(" ", text)
    return RE_EOL_SPACES.sub("", text)


def clean_description(text: str) -> str:
    """The reference's 11-step description cleaner (:432-470), byte-exact."""
    if not text:
        return ""
    text = normalize_unicode(text)
    text = strip_jira_markup(text)
    text = normalize_linebreaks(text)
    text = canonicalize_sections(text)
    text = mask_pii(text)
    text = fix_permission_spacing(text)
    text = standardize_metadata_keys(text)
    text = normalize_platform_names(text)
    text = normalize_semver_in_text(text)
    text = text.lower()
    text = collapse_inline_whitespace(text)
    return text.strip()


def clean_summary(text: str) -> str:
    """The reference's 7-step summary cleaner (:472-498), byte-exact."""
    if not text:
        return ""
    text = normalize_unicode(text)
    text = strip_jira_markup(text)
    text = mask_pii(text)
    text = normalize_platform_names(text)
    text = normalize_semver_in_text(text)
    text = text.lower()
    return RE_ALL_WS.sub(" ", text).strip()


def normalize_semver_column(version: str) -> str:
    """Version-column normalizer (reference :505-514)."""
    if not version:
        return ""
    version = RE_V_PREFIX.sub("", version.strip())
    return RE_SEMVER_INNER_WS.sub(".", version).strip()


# --------------------------------------------------------------------------
# HTML unwrapping for the synthetic Common-Crawl-style pages table
# --------------------------------------------------------------------------

BODY_OPEN = "<!--BODY-->"
BODY_CLOSE = "<!--/BODY-->"


def html_to_raw_text(html: bytes | str) -> str:
    """Pull the raw document body out of a page's html.

    Synthetic pages (synth.py) embed the body verbatim between sentinel
    comments; everything outside them is site boilerplate (header / nav /
    footer shared across a site — the designated skew stressor). Real-corpus
    deployments would swap this for a proper HTML text extractor; the
    cleaning contract downstream is unchanged.
    """
    if html is None:
        return ""
    s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
    start = s.find(BODY_OPEN)
    if start < 0:
        return s
    start += len(BODY_OPEN)
    end = s.find(BODY_CLOSE, start)
    return s[start:end] if end >= 0 else s[start:]


def extract_text(html: bytes | str | None) -> str:
    """Full stage-0 contract: html → raw body → reference-clean text."""
    return clean_description(html_to_raw_text(html))


# --------------------------------------------------------------------------
# Spark surface — vectorized pandas UDFs
# --------------------------------------------------------------------------

def _series_extract(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


def clean_description_udf():
    """Build the ``clean_description`` pandas UDF lazily (keeps this module
    importable without a JVM for pure-Python unit tests)."""
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(
        lambda s: s.map(lambda v: clean_description(v) if v is not None else ""), "string"
    )


def extract_docs(pages_df, url_col: str = "url", html_col: str = "html"):
    """pages → docs(url, text), empty docs dropped — ONE Python pass.

    A pandas-UDF formulation (``withColumn`` + ``filter(length(text) >
    0)``) plans as TWO ArrowEvalPython nodes: Catalyst pushes the filter
    between the UDF's two use sites (predicate and projection) and
    re-evaluates the extractor per site — doubling the most expensive
    kernel in the pipeline (measured: the extract stage burned 2× its
    standalone CPU at every width). mapInPandas owns both the computation
    and the emptiness filter, so the cleaner runs exactly once per row.
    """
    def compute(batch_iter):
        for pdf in batch_iter:
            text = _series_extract(pdf[html_col])
            keep = text.str.len() > 0
            yield pd.DataFrame({"url": pdf[url_col][keep], "text": text[keep]})

    return pages_df.select(url_col, html_col).mapInPandas(
        compute, "url string, text string"
    )
