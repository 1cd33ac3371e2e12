"""``currencylayer`` — Spark 4 Python DataSource for exchange rates.

The reference pulls exactly one (date, pair) per run with a driver-side
HTTP GET and hand-validates the ``success`` envelope (reference
main.py:117-143). Here the grid is (date range × currency list), one
input partition per date, each row already in the target shape of the
exchange-rate table (reference main.py:16-20):

    date DATE, currencies STRING ("USDUAH"), rate DOUBLE

An API error envelope raises ``TransportError`` carrying
``error.info`` — the reference's error path crashes with an
AttributeError before it can log (main.py:143, the
``logger.error('...{}').format(e)`` bug); ours is tested.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date as Date

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..schemas import SCHEMA_EXCHANGE_RATE
from .facebook_insights import _drange
from .transport import TransportError, make_transport, with_retries


@dataclass
class _Day(InputPartition):
    date: str


class CurrencyLayerReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.since = options.get("since", "2025-01-01")
        self.until = options.get("until", self.since)
        self.source = options.get("source", "USD")
        self.currencies = options.get("currencies", "UAH").split(",")
        self.transport_spec = options.get("transport", "fixture")
        self.attempts = int(options.get("retries", "3"))

    def pushFilters(self, filters: list[Filter]) -> list[Filter]:  # noqa: N802
        unsupported: list[Filter] = []
        for f in filters:
            if f.attribute[0] == "date" and isinstance(f, EqualTo):
                # intersect with the declared range, never widen it
                self.since = max(self.since, str(f.value))
                self.until = min(self.until, str(f.value))
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        return [_Day(d) for d in _drange(self.since, self.until)]

    def read(self, part: _Day):
        transport = make_transport(self.transport_spec)
        env = with_retries(
            lambda: transport.rates(part.date, self.source, self.currencies),
            attempts=self.attempts,
        )
        if not env.get("success"):
            info = (env.get("error") or {}).get("info", "unknown error")
            raise TransportError(f"currencylayer error for {part.date}: {info}")
        d = Date.fromisoformat(part.date)
        for cur in self.currencies:
            pair = self.source + cur
            yield (d, pair, float(env["quotes"][pair]))


class CurrencyLayerDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "currencylayer"

    def schema(self) -> StructType:
        return SCHEMA_EXCHANGE_RATE

    def reader(self, schema: StructType) -> CurrencyLayerReader:
        return CurrencyLayerReader(schema, dict(self.options))
