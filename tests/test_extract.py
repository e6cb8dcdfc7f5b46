"""Extractor parity: engine cleaner must be byte-identical to the reference.

Oracle = the reference's own ``TextCleaner`` imported from
/root/reference/src/preprocess_jira.py (clean_description :432-470,
clean_summary :472-498). The per-url invariant from BASELINE.json
``input_hint`` is enforced here over an adversarial corpus that exercises
every construct the cleaner handles (SURVEY.md §2.8 F1-F11), plus a seeded
random fuzz corpus.
"""

from __future__ import annotations

import random

import pytest

from jira_duplicate_detection_turkcell__spark import extract as ex
from tests.conftest import load_reference_cleaner

# One instance of every construct the extractor handles, incl. the reference's
# own integration-test adversarial cases (tests/test_preprocessing.py:395-416).
ADVERSARIAL = [
    "",
    "plain text only",
    "h1. Title\nh2. Subtitle\nbody",
    "*Test Steps:*\n# step one\n# step two\n*Actual Result:*\nboom\n*Expected Result:*\nok",
    "Test Step: colon variants\nTEST STEPS : caps\n  *  \n",
    "{code}print('x'){code} after {panel}warn{panel} bq. quoted line",
    "{code}\nmulti\nline\n{code}\ntail",
    "email me at First.Last+tag@sub.Example.COM now",
    "call 0532 123 45 67 or +905321234567 or 532-123-45-67",
    "Msisdn : 905368658527\nMSISDN: +905321112233",
    "server at 10.0.0.1 and 192.168.001.255.",
    "see https://www.example.com/path?q=1&r=2. or (http://foo.bar/baz), txt",
    "go www.example.org/page] and ftp://files.example.net/a_b",
    "LOGS_UPLOADED_TO_SERVER_URL: https://logs.example.com/abc123XYZ989",
    "trailing colon http://example.com: and brace http://x.io/p}",
    "ID ABCDEF123456 and short ABC1 and TR5X9K2M8Q41",
    "App Version: 3.70.16 on IOS, iphone 12 – em—dash test",
    "Application Version : 3 . 70 . 16\nDevice : iPhone12,5\nNetwork status : Wi-Fi",
    "versions v1.2.3 and 10.20.30 and 1.2.3.4 and 1 . 2 . 3",
    "CONTACT_PERMISSION:true STORAGE_PERMISSION:true\nSMS_PERMISSION:true BATTERY_OPTIMIZATION:true",
    "ios IOS iOS iphone IPHONE iPad IPAD android ANDROID androidx preandroid",
    "smart “double” and ‘single’ quotes – en — em  nbsp ﬁligature",
    "Türkçe çğıöşü ÇĞİÖŞÜ İstanbul'da kullanıcı",
    "line1\r\nline2\rline3\n\n\n\n\nline4",
    "  \t mixed\t\twhitespace   lines \t\n  next \t line  ",
    "* \n **\n***\n * content stays\nend",
    "# bullet one\n  # bullet two\nnot # inline",
    "a\n\n\n\nb\n \n \n\nc",
    "www.trailing.dots.example.com... and http://host.tld/p?a=%20b%2Fc",
    "h10. deep header\nbq.no space\nbq. with space",
    "metadata Language : Türkçe\nCarrier : Turkcell\nDevice OS : Android 14",
    "MIXED [PRESENT] tokens already present [PRESENT domain=x.y]",
    "5321234567 bare and 05321234567 zero-led and 905321234567",
    # Turkish dotted/dotless-i forms: Python re IGNORECASE matches İ/ı
    # against ASCII i, but İ/ı don't .lower() to plain "i" — these pin the
    # literal-guard escape hatches in mask_pii / normalize_platform_names
    "İOS crash on ıOS and İPHONE 15 with İPAD mini, ANDROıD too",
    "MSİSDN : +905321234567 and msısdn: 905311112233",
    "WWW.Example.COM and wWw.mixed.case/path and HTTPS://UPPER.HOST/X",
    "TEST STEPS: with content\nACTUAL RESULT: broken\nEXPECTED RESULT: fine",
    "tabs\tonly\there and single space runs stay",
]


@pytest.fixture(scope="module")
def oracle():
    return load_reference_cleaner()


def _fuzz_corpus(n=300, seed=1234):
    rng = random.Random(seed)
    atoms = [
        "h2. ", "*Test Steps:*", "{code}", "{panel}", "bq. ", "\r\n", "\r", "\n",
        "a@b.co", "0532 111 22 33", "Msisdn : 90536", "10.1.2.3",
        "https://www.ex.com/p?x=1.", "www.t.co)", "ABCDEFGH12", "IOS", "iphone",
        "1.2.3", "1 . 2 . 3", "App Version:", "CONTACT_PERMISSION:true",
        "“q”", "’s", "–", "—", "İstanbul", "çğş", " \t ", "*", " * ", "# x",
        "word", "kelime", "3.70.16", "]", ")", "}", ":",
    ]
    out = []
    for _ in range(n):
        k = rng.randint(1, 30)
        out.append("".join(rng.choice(atoms) + rng.choice([" ", "", "\n"]) for _ in range(k)))
    return out


def test_description_parity_adversarial(oracle):
    for s in ADVERSARIAL:
        assert ex.clean_description(s) == oracle.clean_description(s), repr(s)


def test_summary_parity_adversarial(oracle):
    for s in ADVERSARIAL:
        assert ex.clean_summary(s) == oracle.clean_summary(s), repr(s)


def test_description_parity_fuzz(oracle):
    for s in _fuzz_corpus():
        assert ex.clean_description(s) == oracle.clean_description(s), repr(s)


def test_summary_parity_fuzz(oracle):
    for s in _fuzz_corpus(seed=987):
        assert ex.clean_summary(s) == oracle.clean_summary(s), repr(s)


def test_semver_column_parity(oracle):
    import preprocess_jira  # imported by load_reference_cleaner

    for v in ["", "v1.2.3", "V 1.2.3", "v 1 . 2 . 3 ", " 2.0.1", "3 . 70 . 16"]:
        assert ex.normalize_semver_column(v) == preprocess_jira.normalize_semver(v), repr(v)


def test_html_roundtrip():
    body = "*Test Steps:*\n# one\nsee https://www.ex.com/a."
    html = f"<html><nav>boilerplate</nav>{ex.BODY_OPEN}{body}{ex.BODY_CLOSE}<footer>f</footer></html>"
    assert ex.html_to_raw_text(html.encode()) == body
    assert ex.extract_text(html.encode()) == ex.clean_description(body)


def test_spark_udf_matches_local(spark, oracle):
    rows = [(f"u{i}",) + (s,) for i, s in enumerate(ADVERSARIAL)]
    df = spark.createDataFrame(rows, "url string, body string")
    clean_desc_udf = ex.clean_description_udf()
    out = {r["url"]: r["t"] for r in df.select("url", clean_desc_udf("body").alias("t")).collect()}
    for i, s in enumerate(ADVERSARIAL):
        assert out[f"u{i}"] == oracle.clean_description(s), repr(s)
