"""Engine scalar-function library: pure Catalyst column expressions.

Everything here compiles to built-in JVM expressions (whole-stage codegen,
no Python in the hot path). The reference's helper functions (its de-facto
UDF surface, reference main.py:60-97) all map to compositions of these.
"""

from .geo import haversine_m  # noqa: F401
from .hashing import token_hashes  # noqa: F401
from .vectors import cosine_similarity, dot_product, l2_norm  # noqa: F401
