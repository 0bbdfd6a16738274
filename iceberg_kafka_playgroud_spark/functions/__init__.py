from .scalar import (  # noqa: F401
    confluent_header,
    money,
    strip_confluent_header,
)
