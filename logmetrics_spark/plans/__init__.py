from .pipeline import run_pipeline  # noqa: F401
