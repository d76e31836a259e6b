"""PDF content-stream semantics: tokenizer, fonts/encodings, interpreter, sanitizers.

Pure-Python kernels, deliberately Spark-free: they run batched inside
``extract.py``'s one decode ``mapInArrow`` (one page per call, many pages per
Arrow batch) and are reused verbatim by the sequential test oracle —
vectorization happens at the corpus level, not the operator level.
"""
