"""Vectorized text kernels: refiners, heuristic filters, scorers.

Every kernel exists in up to two equivalent forms:

* ``native``  — a Catalyst ``Column`` expression (JVM-side, whole-stage
  codegen, the 100-TB hot path), used whenever it is provably equal to the
  documented Python semantics on the input domain;
* ``kernel``  — an Arrow-vectorized pandas implementation (exact Python
  string semantics, still batch-vectorized — never per-row Python loops).

The form is never a caller's choice: filters always run ``native``;
refiners run ``native`` when they have one and their kernel otherwise
(``stem``, ``spelling``). ``filter_udf``/``refiner_udf`` expose the
kernels to the tests, which assert native == kernel ==
pinned-reference-transcription on the dirty synthetic corpus, so the
fast path is byte-validated.
"""
