from .stream import stream_cv_pipeline  # noqa: F401
