from .pipeline import run_pipeline, build_datapoints  # noqa: F401
