"""spark-webtext-dedup: PySpark-native near-duplicate detection + clustering engine.

A from-scratch distributed re-expression of the capabilities of the reference
duplicate-detection system (``esraacevik/Jira_Duplicate_Detection_Turkcell_``,
surveyed in SURVEY.md): deterministic text extraction (byte-identical to the
reference cleaner per url), MinHash+LSH / SimHash / exact-substring
candidate generation, exact pair verification, and distributed
connected-components clustering — all expressed as PySpark DataFrame plans
with vectorized pandas/Arrow UDFs only where the JVM built-ins genuinely
cannot express the semantics.

Import alias convention used throughout the repo::

    import jira_duplicate_detection_turkcell__spark as jdt
"""

__version__ = "0.1.0"
