from .inspect import physical_plan  # noqa: F401
