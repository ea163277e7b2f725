from . import ohlc_stream

__all__ = ["ohlc_stream"]
