"""Seeded chain model shared by the RPC generator and the benchmark's checks.

Every value is a pure function of ``(seed, block)`` or ``(seed, doc)``, so
the generator process can serve a block range and the benchmark process
can compute the expected warehouse contents of the same range without
talking to each other.

What the seed varies (the inputs the ETL's behaviour depends on):

- events per block (marketplace + foreign-contract logs),
- the share of foreign-contract events the address filter must drop,
- the share of listing docs that carry a products array and its length,
- the document size (description length),
- key overlap: how many events reuse one document from the doc pool.

The ranges are kept narrow on purpose: the benchmark compares seeds with
each other, so a seed changes the shape of the work, not its amount by
multiples.

The values themselves are synthetic. No event density, foreign-event
share, product share or document-pool size of the reference contract is
published with this repository, so they are chosen to be small enough
that a tick's per-row work (fetch, parse, staging) stays below its fixed
costs, as at the reference's 15 s poll, and varied enough that the
address filter, the product explode and the docs join each do real work.
Only the 1000-block batch, the 5 fetch workers and the 1-60-block tick
come from the reference.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

START_BLOCK = 10_014_455  # the reference's START_BLOCK_EPOCH
RAW_LOG_COLUMNS = ("block_number", "log_index", "address", "event_name", "listing_id", "ipfs_hash")
FOREIGN_ADDRESS = "0x_other_contract"

_CATEGORIES = ("electronics", "apparel", "home", "art", "books", "music")
_CURRENCIES = ("ETH", "DAI", "USD")
_WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
          "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")


@dataclass(frozen=True)
class ChainSpec:
    seed: int
    address: str
    min_events: int  # events per block are uniform on [min_events, max_events]
    max_events: int
    foreign_share: float
    product_share: float
    max_products: int
    desc_words: int
    n_docs: int

    @classmethod
    def from_seed(cls, seed: int, address: str) -> "ChainSpec":
        rng = random.Random(f"chain:{seed}")
        lo = rng.randint(2, 3)
        return cls(
            seed=seed,
            address=address,
            min_events=lo,
            max_events=lo + 2,
            foreign_share=round(rng.uniform(0.2, 0.35), 3),
            product_share=round(rng.uniform(0.3, 0.45), 3),
            max_products=rng.randint(3, 4),
            desc_words=rng.randint(20, 40),
            n_docs=rng.choice((3000, 4000, 5000)),
        )

    # -- events ---------------------------------------------------------

    def block_events(self, block: int) -> list[tuple]:
        """Logs of one block in log-index order, as RAW_LOG_COLUMNS tuples."""
        rng = random.Random(self.seed * 1_000_003 + block)
        out = []
        for li in range(rng.randint(self.min_events, self.max_events)):
            if rng.random() < self.foreign_share:
                out.append((block, li, FOREIGN_ADDRESS, "Transfer", f"foreign-{block}-{li}",
                            f"Qmf{block}x{li}"))
            else:
                doc = rng.randrange(self.n_docs)
                out.append((block, li, self.address, "ListingCreated", f"listing-{block}-{li}",
                            self.doc_hash(doc)))
        return out

    def logs(self, lo: int, hi: int) -> list[dict]:
        return [dict(zip(RAW_LOG_COLUMNS, e))
                for b in range(lo, hi + 1) for e in self.block_events(b)]

    def expected_counts(self, lo: int, hi: int) -> tuple[int, int]:
        """(listing rows, product rows) the warehouse must hold for blocks lo..hi."""
        listings = products = 0
        for b in range(lo, hi + 1):
            for e in self.block_events(b):
                if e[2] == self.address:
                    listings += 1
                    products += self.n_products(self.doc_index(e[5]))
        return listings, products

    # -- documents --------------------------------------------------------

    def doc_hash(self, doc: int) -> str:
        return f"Qm{self.seed}d{doc}"

    def doc_index(self, ipfs_hash: str) -> int:
        return int(ipfs_hash.rsplit("d", 1)[1])

    def n_products(self, doc: int) -> int:
        rng = random.Random(self.seed * 7_919 + doc)
        if rng.random() >= self.product_share:
            return 0
        return rng.randint(1, self.max_products)

    def doc(self, doc: int) -> str:
        rng = random.Random(self.seed * 104_729 + doc)
        h = self.doc_hash(doc)
        words = " ".join(rng.choice(_WORDS) for _ in range(self.desc_words))
        n = self.n_products(doc)
        return json.dumps({
            "listingType": "unit",
            "category": rng.choice(_CATEGORIES),
            "subcategory": None if rng.random() < 0.2 else f"sub-{rng.randrange(9)}",
            "language": rng.choice(("en", "de", "fr")),
            "title": f"Listing {h}",
            "description": words,
            "price": {"amount": round(rng.uniform(0.5, 500.0), 4),
                      "currency": rng.choice(_CURRENCIES)},
            "products": [
                {
                    "id": f"p{h}-{i}",
                    "externalId": f"ext-{doc}-{i}",
                    "parentExternalId": f"ext-{doc}" if i else None,
                    "title": f"Product {i} of {h}",
                    "description": words[: 10 + 7 * i],
                    "price": 1000 + rng.randrange(100_000),
                    "currency": rng.choice(_CURRENCIES),
                    "option1": f"size-{i}" if i % 2 == 0 else None,
                    "option2": f"color-{i}" if i % 3 == 0 else None,
                    "option3": None,
                    "image": f"ipfs://{h}/img{i}.png",
                }
                for i in range(n)
            ] or None,
        })

    def docs_table(self):
        """The docs dimension (ipfs_hash, doc) as a pyarrow table."""
        import pyarrow as pa

        idx = range(self.n_docs)
        return pa.table({
            "ipfs_hash": pa.array([self.doc_hash(i) for i in idx], pa.string()),
            "doc": pa.array([self.doc(i) for i in idx], pa.string()),
        })
