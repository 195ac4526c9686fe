"""Distributed re-expression of the reference training pipeline
(train.py): scaling, VAR OLS, sequence generation, the hybrid network
(defined once in ``model.py``) and its per-slice training
(``train.py``).  Everything needed to SERVE the pipeline — fit the VAR,
build sequences, run the network forward, compose the hybrid forecast —
runs as Spark plans with Arrow-batched numpy only where linear algebra
genuinely can't be expressed relationally.
"""
