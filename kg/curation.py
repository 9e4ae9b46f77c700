"""Empty on purpose: this module registers no query and defines nothing.

`__spark_entry__._registry()` runs `from kg import curation`, and that
driver-contract module is frozen, so the import must keep resolving.
The driver-facing `corpus_curation` query is `q_corpus_curation` in
kg/relational.py, built on kg.textstats; it only shares the name.
"""
