from .text import (  # noqa: F401
    SENTIMENT_LEXICON,
    sentiment_compound,
    tokenize_ws,
)
