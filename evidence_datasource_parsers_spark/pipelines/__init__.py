"""Parser-pattern pipelines: each reference evidence parser re-expressed as a
chain of pure ``DataFrame -> DataFrame`` stage functions (the reference
already leans this way via ``.transform(fn)`` — modules/ChEMBL.py:35).

These are *capability* pipelines: they run on fixture-shaped inputs (see
FIXTURES.md / tests) rather than the reference's live biomedical feeds, and
exercise every operator family of SURVEY §2 in its original composition.
"""
