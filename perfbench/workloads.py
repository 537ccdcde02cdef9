"""Seeded op lists for the two workloads, with the model each op is checked against.

A workload is `setup` ops (run once, untimed) plus a `pass` op list that
the runner repeats. The tables a pass writes are fresh in every pass;
tables built in set-up (`shared_tables`) are read by every pass. Every op names the layer it calls into (`layer`:
where its driver-side time goes), the layer its Spark jobs run
(`job_layer`) and whether it counts as a read or a write (`cls`). The
expected result of an op is computed here from the seeded inputs
alone, with plain numpy over the generated parquet tables; the program
under test never supplies an expected value.

The seed changes keys, ranges and order, never the shape: the same op
kinds, counts and sizes appear for every seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

# Declared queries of the analytics workload, all with DuckDB oracles:
# two TPC-H shapes and one query from each of five other families;
# text_bm25 persists intermediates, so query pins show in the cache
# metrics. Seven, not more: a cold first pass of every query must fit
# the run's time budget together with the JVM and Spark start.
ANALYTICS_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "window_running_sum",
    "text_bm25", "sim_cosine_neardup", "ts_ohlc", "set_except_all",
]
ANALYTICS_SCALE = 0.01

INGEST_BULK_ROWS = 20_000
INGEST_APPENDS = 6             # codecs rotate zstd, none, lz4
INGEST_APPEND_ROWS = {"zstd": 2_000, "none": 2_000, "lz4": 400}
INGEST_MERGE_ROWS = 600

CODECS = ["zstd", "none", "lz4"]

# many-epoch table, built once in set-up: one single-file append per
# epoch, then a DELETE that leaves deletion vectors; each pass reads it
HIST_EPOCHS = 40
HIST_EPOCH_ROWS = 200

ORD_DIGEST = (
    "count(*) AS n, sum(o_orderkey) AS k, sum(o_custkey) AS c, "
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS t, "
    "sum(ascii(o_orderstatus)) AS st, "
    "sum(ascii(substr(o_orderpriority, 1, 1))) AS pr, "
    "sum(year(o_orderdate) * 10000 + month(o_orderdate) * 100 "
    "+ dayofmonth(o_orderdate)) AS d")


def _cols(table):
    return {n: table.column(n).to_numpy(zero_copy_only=False) for n in table.column_names}


def _ymd(micros):
    d = micros.astype("datetime64[us]").astype("datetime64[D]")
    y = d.astype("datetime64[Y]").astype(np.int64) + 1970
    m = d.astype("datetime64[M]").astype(np.int64) % 12 + 1
    dd = (d - d.astype("datetime64[M]")).astype(np.int64) + 1
    return y * 10000 + m * 100 + dd


def _ascii(strings):
    return np.array([ord(s[0]) for s in strings], dtype=np.int64)


def _sums(n, parts):
    """Digest row: count, then each sum (NULL over no rows)."""
    return [str(n)] + [("NULL" if n == 0 else str(int(p.sum()))) for p in parts]


def ord_digest(c, m):
    return "|".join(_sums(int(m.sum()), [
        c["o_orderkey"][m], c["o_custkey"][m],
        np.round(c["o_totalprice"][m] * 100).astype(np.int64),
        _ascii(c["o_orderstatus"][m]), _ascii(c["o_orderpriority"][m]),
        _ymd(c["o_orderdate"][m])]))


def _op(oid, kind, cls, layer, job_layer, **kw):
    return dict(id=oid, kind=kind, cls=cls, layer=layer, job_layer=job_layer, **kw)


def _read(oid, sql, expect, table, shape):
    return _op(oid, "sql", "read", "arrow.meta", "arrow.scan", sql=sql,
               expect=expect, table_ref=table, shape=shape)


def _many_epoch(rng, data_dir, n_cust):
    """Set-up ops that build the many-epoch table and the reads each pass
    makes of it, with its live row count."""
    n = HIST_EPOCHS * HIST_EPOCH_ROWS
    orders = datagen.orders_table(rng, n, n_cust)
    _batches_file(os.path.join(data_dir, "hist_batches.parquet"),
                  [(e, orders.slice(e * HIST_EPOCH_ROWS, HIST_EPOCH_ROWS))
                   for e in range(HIST_EPOCHS)])
    O = _cols(orders)
    del_mod = int(rng.integers(0, 10))
    live = (O["o_custkey"] % 10) != del_mod
    mid = HIST_EPOCHS // 2
    setup = [_op("stage_hist", "stage", "none", "engine", "engine",
                 file="hist_batches.parquet", prefix="h")]
    for e in range(HIST_EPOCHS):
        setup.append(_op(f"hist{e}", "write", "write", "arrow.commit", "arrow.write",
                         table="many_epoch", src=f"stage:h{e}", coalesce=1,
                         mode="overwrite" if e == 0 else "append",
                         options={"codec": "zstd", "bloomFilterColumns": "o_custkey"},
                         rows=HIST_EPOCH_ROWS))
        if e == 0:
            setup.append(_op("hist_set_dv", "sql", "write", "arrow.commit", "arrow.commit",
                             sql="CALL graft.system.set_dv(path => '{P:many_epoch}')"))
        if e == mid:
            setup.append(_op("hist_mark", "mark", "none", "arrow.meta", "arrow.meta",
                             table="many_epoch", name="hist_mid"))
    setup.append(_op("hist_delete", "sql", "write", "arrow.dml", "arrow.dml",
                     sql=f"DELETE FROM {{T:many_epoch}} WHERE o_custkey % 10 = {del_mod}"))
    k = O["o_orderkey"]
    span = 3 * HIST_EPOCH_ROWS
    a = int(rng.integers(0, n - span))
    ref = "{T:many_epoch}"
    reads = [
        _read("hist:full", f"SELECT {ORD_DIGEST} FROM {ref}",
              [ord_digest(O, live)], "many_epoch", "full"),
        _read("hist:range",
              f"SELECT {ORD_DIGEST} FROM {ref} WHERE o_orderkey BETWEEN {a} AND {a + span - 1}",
              [ord_digest(O, live & (k >= a) & (k < a + span))], "many_epoch", "range"),
        _read("hist:asof", f"SELECT {ORD_DIGEST} FROM {ref} VERSION AS OF {{M:hist_mid}}",
              [ord_digest(O, k < (mid + 1) * HIST_EPOCH_ROWS)], "many_epoch", "asof"),
    ]
    return setup, reads, int(live.sum())


def _batches_file(path, batches):
    """One parquet file holding every staged batch, tagged by `__batch`."""
    parts = [t.append_column("__batch", pa.array(np.full(t.num_rows, b, np.int32)))
             for b, t in batches]
    pq.write_table(pa.concat_tables(parts), path)


def analytics(seed, data_dir):
    rng = np.random.default_rng(seed)
    datagen.write(datagen.build(seed, ANALYTICS_SCALE), data_dir)
    order = [ANALYTICS_QUERIES[i] for i in rng.permutation(len(ANALYTICS_QUERIES))]
    ops = [_op(f"query:{n}", "query", "read", "queries", "exec", name=n) for n in order]
    return dict(setup=[], warm_ops=ops, pass_ops=ops, tables=[], shared_tables=[],
                oracle_names=sorted(ANALYTICS_QUERIES), live_rows=None)


class _OrdersModel:
    """The ingest table's expected content, keyed by o_orderkey."""

    def __init__(self, table):
        self.c = _cols(table)

    def _replace(self, keep, extra=None):
        self.c = {k: v[keep] if extra is None else np.concatenate([v[keep], extra[k]])
                  for k, v in self.c.items()}

    def append(self, table):
        self._replace(np.ones(len(self.c["o_orderkey"]), bool), _cols(table))

    def delete(self, a, b):
        k = self.c["o_orderkey"]
        self._replace(~((k >= a) & (k <= b)))

    def update(self, a, b):
        k = self.c["o_orderkey"]
        m = (k >= a) & (k <= b)
        self.c["o_orderstatus"] = np.where(m, "U", self.c["o_orderstatus"]).astype(object)
        self.c["o_custkey"] = np.where(m, self.c["o_custkey"] + 1_000_000, self.c["o_custkey"])

    def merge(self, table):
        src = _cols(table)
        pos = {int(k): i for i, k in enumerate(self.c["o_orderkey"])}
        new = np.array([int(k) not in pos for k in src["o_orderkey"]])
        for j in np.flatnonzero(~new):
            i = pos[int(src["o_orderkey"][j])]
            for col in ("o_custkey", "o_orderstatus", "o_totalprice"):
                self.c[col][i] = src[col][j]
        self._replace(np.ones(len(self.c["o_orderkey"]), bool),
                      {k: v[new] for k, v in src.items()})

    def rows(self):
        return len(self.c["o_orderkey"])

    def digest(self):
        return [ord_digest(self.c, np.ones(self.rows(), bool))]

    def view(self):
        s, c = self.c["o_orderstatus"], self.c["o_custkey"]
        return [f"{v}|{int((s == v).sum())}|{int(c[s == v].sum())}" for v in sorted(set(s))]


def arrow_ingest(seed, data_dir):
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)
    n_cust = 15_000
    hist_setup, hist_reads, hist_rows = _many_epoch(rng, data_dir, n_cust)
    bulk = datagen.orders_table(rng, INGEST_BULK_ROWS, n_cust)
    next_key = INGEST_BULK_ROWS
    batches = [(0, bulk)]
    model = _OrdersModel(bulk)
    check = "SELECT %s FROM {T:main}" % ORD_DIGEST

    ops = [
        _op("bulk_load", "write", "write", "arrow.commit", "arrow.write", table="main",
            src="stage:i0", coalesce=2, mode="overwrite", options={"codec": "zstd"},
            rows=INGEST_BULK_ROWS, codec="zstd", commits="main"),
        _op("set_dv", "sql", "write", "arrow.commit", "arrow.commit",
            sql="CALL graft.system.set_dv(path => '{P:main}')"),
        _op("replica_init", "write", "none", "arrow.commit", "arrow.write", table="replica",
            src="empty:ischema", coalesce=1, mode="overwrite", options={}),
    ]

    def ryw(tag):
        ops.append(_op(f"ryw:{tag}", "sql", "read", "arrow.meta", "arrow.scan",
                       sql=check, expect=model.digest(), table_ref="main", shape="full"))

    ryw("bulk")
    ops.append(hist_reads[0])
    ops.append(_op("mark0", "mark", "none", "arrow.meta", "arrow.meta", table="main", name="m0"))
    last_mark, last_rows, n_marks, merges = "m0", model.rows(), 0, 0
    for i in range(1, INGEST_APPENDS + 1):
        codec = CODECS[(i - 1) % 3]
        n = INGEST_APPEND_ROWS[codec]
        t = datagen.orders_table(rng, n, n_cust, first_key=next_key)
        next_key += n
        batches.append((i, t))
        model.append(t)
        ops.append(_op(f"append{i}:{codec}", "write", "write", "arrow.commit", "arrow.write",
                       table="main", src=f"stage:i{i}", coalesce=1, mode="append",
                       options={} if codec == "none" else {"codec": codec},
                       rows=n, codec=codec, commits="main"))
        ryw(f"append{i}")
        if i % 2 == 0:
            kind = ["delete", "update", "merge"][(i // 2 - 1) % 3]
            width = INGEST_BULK_ROWS // 100
            a = int(rng.integers(0, next_key - width))
            if kind == "delete":
                model.delete(a, a + width - 1)
                sql = f"DELETE FROM {{T:main}} WHERE o_orderkey BETWEEN {a} AND {a + width - 1}"
                views, changed = None, width
            elif kind == "update":
                model.update(a, a + width - 1)
                sql = (f"UPDATE {{T:main}} SET o_orderstatus = 'U', "
                       f"o_custkey = o_custkey + 1000000 "
                       f"WHERE o_orderkey BETWEEN {a} AND {a + width - 1}")
                views, changed = None, width
            else:
                half = INGEST_MERGE_ROWS // 2
                src = datagen.orders_table(rng, INGEST_MERGE_ROWS, n_cust)
                keys = np.concatenate([rng.choice(model.c["o_orderkey"], half, replace=False),
                                       np.arange(next_key, next_key + half)])
                next_key += half
                src = src.set_column(0, "o_orderkey", pa.array(keys.astype(np.int64)))
                merges += 1
                batches.append((100 + merges, src))
                model.merge(src)
                sql = ("MERGE INTO {T:main} t USING merge_src s ON t.o_orderkey = s.o_orderkey "
                       "WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey, "
                       "o_orderstatus = s.o_orderstatus, o_totalprice = s.o_totalprice "
                       "WHEN NOT MATCHED THEN INSERT *")
                views, changed = {"merge_src": f"stage:i{100 + merges}"}, INGEST_MERGE_ROWS
            ops.append(_op(f"{kind}{i}", "sql", "write", "arrow.dml", "arrow.dml", sql=sql,
                           views=views, table="main", dml=kind, changed=changed,
                           commits="main"))
            ryw(f"{kind}{i}")
        if i in (3, 5):
            ops.append(hist_reads[i // 2])
        if i == 4:
            replica_rows, view_rows = model.rows(), len(model.view())
            ops.append(_op(f"replicate{i}", "replicate", "write", "streaming", "streaming",
                           table="main", replica="replica", key="o_orderkey"))
            ops.append(_op(f"replica_read{i}", "sql", "read", "arrow.meta", "arrow.scan",
                           sql="SELECT %s FROM {T:replica}" % ORD_DIGEST,
                           expect=model.digest(), table_ref="replica", shape="full"))
            ops.append(_op(f"maintain{i}", "maintain", "write", "streaming", "streaming",
                           table="main", view="view", group="o_orderstatus", sum="o_custkey"))
            ops.append(_op(f"view_read{i}", "sql", "read", "arrow.meta", "arrow.scan",
                           sql="SELECT o_orderstatus, n, s FROM {T:view} ORDER BY o_orderstatus",
                           expect=model.view(), table_ref="view", shape="view"))
            n_marks += 1
            mark = f"m{n_marks}"
            ops.append(_op(f"mark{n_marks}", "mark", "none", "arrow.meta", "arrow.meta",
                           table="main", name=mark))
            ops.append(_op(f"cdf{i}", "cdf", "read", "streaming", "streaming", table="main",
                           expect_net=model.rows() - last_rows,
                           **{"from": last_mark, "to": mark}))
            last_mark, last_rows = mark, model.rows()
        if i == INGEST_APPENDS:
            ops.append(_op(f"compact{i}", "sql", "write", "arrow.maint", "arrow.maint",
                           table="main", commits="main",
                           sql="CALL graft.system.compact(path => '{P:main}', target_rows => 1000000)"))
            ryw(f"compact{i}")
            ops.append(_op(f"vacuum{i}", "sql", "write", "arrow.maint", "arrow.maint",
                           table="main",
                           sql="CALL graft.system.vacuum(path => '{P:main}', grace_ms => 0)"))
            ryw(f"vacuum{i}")
            n_marks += 1
            last_mark = f"m{n_marks}"
            ops.append(_op(f"mark{n_marks}", "mark", "none", "arrow.meta", "arrow.meta",
                           table="main", name=last_mark))
    _batches_file(os.path.join(data_dir, "ingest_batches.parquet"), batches)
    setup = hist_setup + [_op("stage_ingest", "stage", "none", "engine", "engine",
                              file="ingest_batches.parquet", prefix="i")]
    # the replica and the view hold the rows of their last sync
    return dict(setup=setup, warm_ops=ops, pass_ops=ops,
                tables=["main", "replica", "view", "many_epoch"], shared_tables=["many_epoch"],
                live_rows=model.rows() + replica_rows + view_rows + hist_rows)


WORKLOADS = {"analytics_parquet": analytics, "arrow_ingest": arrow_ingest}
