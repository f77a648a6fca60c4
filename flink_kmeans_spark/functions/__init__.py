from .vectors import sqdist, dot, l2norm, cosine_sim  # noqa: F401
