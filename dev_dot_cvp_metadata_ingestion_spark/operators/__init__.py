from .validation import validate, skip_flag_exprs  # noqa: F401
