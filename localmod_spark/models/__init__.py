"""Model-artifact plumbing: executor-lazy loading of real checkpoints for
the toxicity ensemble slots (`src/localmod/classifiers/toxicity.py:191-275`)."""
