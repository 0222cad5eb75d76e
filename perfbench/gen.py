"""Seeded input generators for the pipeline benchmark.

Two kinds of input, both pure functions of the seed:

* CSV drops in the reference's report format (display headers such as
  "Chave NFe" and "Data Última Ocr.", Brazilian dates and decimals), with a
  ground-truth `Model` of what the pipeline must produce from them: per DW
  key the newest `data_ultima_ocr`, the GREATEST `data_insercao`, the
  coalesced `transportador` and the original `data_nfe`; the number of
  hist rows; and the exact names of the quarantined files.
* The ten driver tables (`orders.parquet`, `documents.parquet`, ...) that
  the `SparkEntry.queries` walk reads.

A row is a tuple (key, event, nfe, ins, carrier): `event` and `ins` are
epoch seconds (`event` may be None, sent as an empty cell), `nfe` is a day
number since 1970-01-01, `carrier` an index into CARRIERS or None (sent
empty, which `transportador`'s CoalesceKeepOld policy must ignore).
"""
import datetime as dt
import functools
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
DAY = 86400
NFE_LAST = (dt.date(2024, 1, 31) - EPOCH.date()).days  # the feed's "today"
NFE_MONTHS = 24  # the backfill spans 24 months of data_nfe -> 24 partitions

# Per-workload shapes.
# backfill_keys: keys the set-up loads through the pipeline (one cycle of
#   one file) to seed the DW.
# warmup: untimed cycles after the backfill, so JIT and codegen settle;
#   beside them run the walk's warm-up pass (query_walk) or discarded
#   cycles on a pipeline root of their own (cron_large_dw).
# files, rows: good files per cycle drop and rows in each.
# bad, empty: bad-header and header-only files per drop (quarantined).
# resend: share of a drop's rows that re-send a key the DW holds.
# dup: share of new keys sent twice within one drop.
# recent: new keys dated in the latest two months and re-sends drawn with
#   a recency decay per month (a live order feed), else uniform.
# dialects: "reference" (`;`, UTF-8, the reference's formats) or "all".
SHAPES = {
    "cron_large_dw": dict(backfill_keys=15_000, warmup=2,
                          files=3, rows=400, bad=0, empty=0, resend=0.5,
                          dup=0.0, recent=True, dialects="reference"),
    "query_walk": dict(backfill_keys=2000, warmup=2,
                       files=1, rows=40, bad=1, empty=1, resend=0.3,
                       dup=0.1, recent=False, dialects="all"),
}

# The make-up of a re-sent row. These are assumptions, not measurements:
# neither the reference nor the paper gives a sample of real drops, so the
# numbers only make sure every merge rule is exercised in every drop and
# the drops are recent-heavy. What a partition-scoped merge would save
# depends on them (README.md, "Assumed drop mix").
RECENCY_DECAY = 0.5  # re-send weight of a month relative to the next newer
RESEND_NEWER, RESEND_OLDER = 0.6, 0.2  # shares of re-sent events; the rest NULL
NFE_CHANGED = 0.2  # re-sends with a changed data_nfe, which KeepOld ignores
CARRIER_EMPTY = 0.3  # re-sends with no transportador, which CoalesceKeepOld ignores

# Display header -> canonical column, in file column order. The model-
# critical columns come first so a ragged (short) row still carries them;
# the trailing columns are the ones a short row may lose.
COLUMNS = [
    ("ID", "id"), ("Chave NFe", "chave_nfe"), ("Data Nfe", "data_nfe"),
    ("Data Última Ocr.", "data_ultima_ocr"), ("Data Inserção", "data_insercao"),
    ("Transportador", "transportador"),
    ("Pedido", "pedido"), ("Tipo Entrega", "tipo_entrega"),
    ("Serie Nfe", "serie_nfe"), ("Número Nfe", "numero_nfe"),
    ("Valor Nfe", "valor_nfe"), ("Qtd. Volumes", "qtd_volumes"),
    ("Peso", "peso"), ("Nome Destinatário", "nome_destinatario"),
    ("CEP", "cep"), ("CD", "cd"),
    ("Status Prazo", "status_prazo"), ("Última Ocorrência", "ultima_ocorrencia"),
    ("Cidades", "cidades"), ("UF", "uf"), ("Qtd. Itens", "qtd_itens"),
    ("Data Prev. Entrega Original", "data_prev_entrega_original"),
    ("CPF Destinatário", "cpf_destinatario"), ("Grau de Risco", "grau_risco"),
    ("Tipo de Operação", "tipo_operacao"),
]
# the three accepted spellings of one header (Schemas.dePara)
PREV_ORIGINAL_VARIANTS = ["Data Prev. Entrega Original",
                          "Data Prev. Entrega (Original)",
                          "Data Prev. Entrega Original)"]
RAGGED_MAX = 4  # a short row loses at most this many trailing cells
BAD_HEADER = ["order_id", "invoice_key", "invoice_date", "last_event",
              "created_at", "amount", "weight", "state", "carrier", "city"]
NAMES = ["José da Silva", "Maria Conceição", "João Pereira", "Ana Lúcia",
         "Antônio Souza", "Luíza Araújo", "Márcio Gonçalves", "Cecília Brandão"]
CITIES = ["São Paulo", "Ribeirão Preto", "Florianópolis", "Goiânia",
          "Belém", "Maceió", "Niterói", "Vitória"]
UFS = ["SP", "sp", "RJ", "MG", "PR", "SC", "BA", "GO"]
CARRIERS = ["Transportes Líder", "Rápido Sul", "Expresso Ágil", "Correios"]
EVENTS = ["Entregue", "Em trânsito", "Saiu para entrega", "Aguardando coleta"]
REFERENCE = {"sep": ";", "enc": "utf-8", "variant": 0, "ragged": 0.0,
             "styles": False, "spaced_key": False}


def chave(k):
    return f"35{k:042d}"


@functools.lru_cache(maxsize=None)
def month_of(nfe):
    """'yyyy-MM' of a day number."""
    return (EPOCH + dt.timedelta(days=nfe)).strftime("%Y-%m")


def _fmt_date(d, style):
    return {0: d.strftime("%d/%m/%Y"), 1: d.strftime("%Y-%m-%d"),
            2: d.strftime("%d-%m-%Y"), 3: d.strftime("%Y%m%d")}[style]


def _fmt_ts(t, style):
    return {0: t.strftime("%d/%m/%Y %H:%M:%S"),
            1: t.strftime("%Y-%m-%d %H:%M:%S"),
            2: t.strftime("%Y-%m-%dT%H:%M:%S")}[style]


def _fmt_decimal(v, style):
    """Brazilian grouped, plain comma, or en-US grouped decimal."""
    whole, frac = divmod(round(v * 100), 100)
    if style == 0:
        return f"{whole:,}".replace(",", ".") + f",{frac:02d}"
    if style == 1:
        return f"{whole},{frac:02d}"
    return f"{whole:,}.{frac:02d}"


def _newer(a, b):
    """Dedup order of (event, ins): DESC NULLS LAST on each."""
    for x, y in zip(a, b):
        if x != y:
            return y is None or (x is not None and x > y)
    return False


class Model:
    """Ground truth of the DW, hist and quarantine after a sequence of drops.

    Semantics mirrored from the pipeline: a drop is deduplicated to the
    newest (event, data_insercao) per key, NULLs last; a new key is
    inserted; an existing key takes the drop's event only when it is
    strictly newer (NewerEventWins: a NULL or older event keeps the stored
    one), keeps the greater `data_insercao` (GREATEST), takes the drop's
    `transportador` unless it is empty (CoalesceKeepOld), and never changes
    its `data_nfe` (KeepOld), so it never changes its month partition.
    """

    def __init__(self):
        self.dw = {}  # key -> [event, nfe, ins, carrier]
        self.by_month = {}  # 'yyyy-MM' -> [rows, newest event]
        self.hist_rows = 0
        self.quarantined = set()
        self.loaded = set()

    def apply(self, drop):
        newest = {}
        for f in drop:
            if not f["good"] or not f["rows"]:
                self.quarantined.add(f["name"])
                continue
            self.loaded.add(f["name"])
            self.hist_rows += len(f["rows"])
            for r in f["rows"]:
                cur = newest.get(r[0])
                if cur is None or _newer((r[1], r[3]), (cur[1], cur[3])):
                    newest[r[0]] = r
        for k, (_, ev, nfe, ins, car) in newest.items():
            s = self.dw.get(k)
            if s is None:
                s = self.dw[k] = [ev, nfe, ins, car]
                self.by_month.setdefault(month_of(nfe), [0, None])[0] += 1
            else:
                if ev is not None and s[0] is not None and ev > s[0]:
                    s[0] = ev
                s[2] = max(s[2], ins)
                if car is not None:
                    s[3] = car
            st = self.by_month[month_of(s[1])]
            if s[0] is not None and (st[1] is None or s[0] > st[1]):
                st[1] = s[0]

    def months(self):
        """month 'yyyy-MM' -> (rows, newest event); events only grow, so
        the running maximum per month is exact."""
        return {m: tuple(v) for m, v in self.by_month.items()}


class DropGenerator:
    """Draws the rows of each drop and remembers the newest state it sent
    per key, so re-sends can be newer, older or NULL relative to it."""

    def __init__(self, seed, workload):
        self.shape = SHAPES[workload]
        self.rng = random.Random(f"{workload}:{seed}")
        self.next_key = 1
        self.known = {}  # key -> (event, nfe) of the newest send
        self.by_month = {}  # months back from NFE_LAST -> [keys]
        self.cycle = 0

    def _add(self, k, ev, nfe):
        self.known[k] = (ev, nfe)
        self.by_month.setdefault(_months_back(nfe), []).append(k)

    def backfill(self):
        """The set-up drop: one file of `backfill_keys` distinct keys,
        data_nfe uniform over NFE_MONTHS months."""
        s = self.shape
        n = s["backfill_keys"]
        rng = np.random.default_rng(self.rng.randrange(2**32))
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        nfe = NFE_LAST - rng.integers(0, NFE_MONTHS * 30, n)
        ev = nfe * DAY + rng.integers(DAY // 2, 6 * DAY, n)
        ins = ev - rng.integers(600, DAY, n)
        car = rng.integers(0, len(CARRIERS), n)
        kl, el, nl = keys.tolist(), ev.tolist(), nfe.tolist()
        self.known.update(zip(kl, zip(el, nl)))
        back = _months_back_np(nfe)
        for m in np.unique(back).tolist():
            self.by_month.setdefault(m, []).extend(keys[back == m].tolist())
        rows = list(zip(kl, el, nl, ins.tolist(), car.tolist()))
        return [{"name": "pedidos_backfill.csv", "good": True, "rows": rows,
                 "dialect": REFERENCE}]

    def _new_row(self):
        r = self.rng
        k = self.next_key
        self.next_key += 1
        if self.shape["recent"]:
            nfe = NFE_LAST - r.randrange(60)
        else:
            nfe = NFE_LAST - r.randrange(NFE_MONTHS * 30)
        ev = nfe * DAY + r.randrange(DAY // 2, 6 * DAY)
        self._add(k, ev, nfe)
        return (k, ev, nfe, ev - r.randrange(600, DAY), r.randrange(len(CARRIERS)))

    def _pick_resend(self):
        if not self.shape["recent"]:
            return self.rng.choice(self._all)
        # month a back is chosen with weight RECENCY_DECAY ** a
        months = self._months
        m = self.rng.choices(months, weights=[RECENCY_DECAY ** a for a in months])[0]
        return self.rng.choice(self.by_month[m])

    def _resend_row(self, k):
        r = self.rng
        ev, nfe = self.known[k]
        u = r.random()
        if u < RESEND_NEWER:
            ev2 = ev + r.randrange(60, 5 * DAY)
        elif u < RESEND_NEWER + RESEND_OLDER:
            ev2 = ev - r.randrange(60, 5 * DAY)
        else:
            ev2 = None
        nfe2 = nfe
        if r.random() < NFE_CHANGED:
            nfe2 = nfe + r.randrange(40, 400)
        if ev2 is not None and ev2 > ev:
            self.known[k] = (ev2, nfe)
        base = ev2 if ev2 is not None else ev
        car = None if r.random() < CARRIER_EMPTY else r.randrange(len(CARRIERS))
        return (k, ev2, nfe2, base - r.randrange(-DAY, DAY), car)

    def drop(self):
        """One cycle's drop: a list of file dicts (name, good, rows, dialect)."""
        s = self.shape
        tag = f"c{self.cycle:03d}"
        self.cycle += 1
        self._all = sorted(self.known)
        self._months = sorted(self.by_month)
        old_keys = set(self._all)
        rows, sent = [], set()
        for _ in range(s["files"] * s["rows"]):
            k = self._pick_resend() if self._all and self.rng.random() < s["resend"] else None
            # at most one re-send per key per drop
            r = self._resend_row(k) if k is not None and k not in sent else self._new_row()
            sent.add(r[0])
            rows.append(r)
        # within-drop duplicates: a second, strictly newer copy of a new key
        for r in list(rows):
            if s["dup"] and r[0] not in old_keys and self.rng.random() < s["dup"]:
                ev2 = r[1] + self.rng.randrange(60, DAY)
                rows.append((r[0], ev2, r[2], ev2 - 60, r[4]))
                self.known[r[0]] = (ev2, r[2])
        self.rng.shuffle(rows)
        per = -(-len(rows) // s["files"])
        files = [{"name": f"pedidos_{tag}_{i:03d}.csv", "good": True,
                  "rows": rows[i * per:(i + 1) * per], "dialect": self._dialect()}
                 for i in range(s["files"])]
        files += [{"name": f"pedidos_{tag}_bad_{i:02d}.csv", "good": False,
                   "rows": [], "dialect": self._dialect()} for i in range(s["bad"])]
        files += [{"name": f"pedidos_{tag}_empty_{i:02d}.csv", "good": True,
                   "rows": [], "dialect": self._dialect()} for i in range(s["empty"])]
        return files

    def _dialect(self):
        if self.shape["dialects"] == "reference":
            return REFERENCE
        r = self.rng
        return {"sep": r.choice([";", ",", "|", "\t"]),
                "enc": r.choice(["utf-8", "utf-8-sig", "cp1252"]),
                "variant": r.randrange(3), "ragged": r.choice([0.0, 0.1]),
                "styles": True, "spaced_key": r.random() < 0.3}


def _months_back(nfe):
    last = EPOCH + dt.timedelta(days=NFE_LAST)
    d = EPOCH + dt.timedelta(days=nfe)
    return (last.year - d.year) * 12 + last.month - d.month


def _months_back_np(nfe):
    last = EPOCH + dt.timedelta(days=NFE_LAST)
    m = np.asarray(nfe, dtype="datetime64[D]").astype("datetime64[M]").astype(np.int64)
    return (last.year - 1970) * 12 + last.month - 1 - m


def drop_months(drop, model):
    """The DW months a drop touches, given the model state before it:
    the stored month of each re-sent key and the month of each new key."""
    out = set()
    for f in drop:
        if f["good"]:
            for k, _, nfe, _, _ in f["rows"]:
                s = model.dw.get(k)
                out.add(month_of(s[1] if s else nfe))
    return sorted(out)


def _header(d):
    header = [h for h, _ in COLUMNS]
    header[header.index("Data Prev. Entrega Original")] = \
        PREV_ORIGINAL_VARIANTS[d["variant"]]
    if d["styles"]:
        header[header.index("Pedido")] = " Pedido "  # trimmed by the header normalizer
    return header


def _reference_lines(rows, seed):
    """CSV lines of reference-dialect rows, built column-wise with Arrow so
    a backfill of a few hundred thousand rows renders in about a second."""
    rng = np.random.default_rng(seed)
    n = len(rows)
    k, ev, nfe, ins, car = (list(c) for c in zip(*rows)) if n else ([],) * 5
    k = pa.array(k, pa.int64())
    s = lambda a: pc.cast(a, pa.string())  # noqa: E731
    pick = lambda xs: pa.array(np.array(xs, dtype=object)[rng.integers(0, len(xs), n)],  # noqa: E731
                               pa.string())

    def pad(a, w):
        return pc.utf8_lpad(s(pa.array(a)), w, "0")

    def date(days):  # dd/MM/yyyy, without strftime's per-value cost
        d = np.asarray(days, dtype="datetime64[D]")
        m = d.astype("datetime64[M]")
        return pc.binary_join_element_wise(
            pad((d - m).astype(np.int64) + 1, 2),
            pad(m.astype(np.int64) % 12 + 1, 2),
            s(pa.array(m.astype("datetime64[Y]").astype(np.int64) + 1970)), "/")

    def ts(secs):  # dd/MM/yyyy HH:mm:ss; a None event renders empty
        v = np.array([0 if x is None else x for x in secs], dtype=np.int64)
        t = v % DAY
        out = pc.binary_join_element_wise(
            date(v // DAY), pc.binary_join_element_wise(
                pad(t // 3600, 2), pad(t // 60 % 60, 2), pad(t % 60, 2), ":"), " ")
        return pc.if_else(pa.array([x is None for x in secs]), "", out)

    def brl(cents):
        whole, frac = cents // 100, cents % 100
        th, rest = whole // 1000, whole % 1000
        grouped = pc.if_else(pa.array(th > 0),
                             pc.binary_join_element_wise(
                                 s(pa.array(th)), pc.utf8_lpad(s(pa.array(rest)), 3, "0"), "."),
                             s(pa.array(rest)))
        return pc.binary_join_element_wise(
            grouped, pc.utf8_lpad(s(pa.array(frac)), 2, "0"), ",")

    kn = np.asarray(k)
    cols = {
        "id": s(k),
        "chave_nfe": pc.binary_join_element_wise(
            "35", pc.utf8_lpad(s(k), 42, "0"), ""),
        "data_nfe": date(nfe),
        "data_ultima_ocr": ts(ev),
        "data_insercao": ts(ins),
        "transportador": pa.array(["" if c is None else CARRIERS[c] for c in car],
                                  pa.string()),
        "pedido": pc.binary_join_element_wise("P", s(k), ""),
        "tipo_entrega": pick(["NORMAL", "EXPRESSA"]),
        "serie_nfe": s(pa.array(1 + kn % 3)),
        "numero_nfe": s(pa.array(100000 + kn)),
        "valor_nfe": brl(rng.integers(1000, 2_000_000, n)),
        "qtd_volumes": s(pa.array(1 + kn % 9)),
        "peso": brl(rng.integers(10, 90_000, n)),
        "nome_destinatario": pick(NAMES),
        "cep": pc.binary_join_element_wise(
            s(pa.array(rng.integers(10000, 99999, n))),
            pc.utf8_lpad(s(pa.array(rng.integers(0, 1000, n))), 3, "0"), "-"),
        "cd": pc.binary_join_element_wise("CD", s(pa.array(kn % 5)), ""),
        "status_prazo": pick(["No prazo", "Atrasado"]),
        "ultima_ocorrencia": pick(EVENTS),
        "cidades": pick(CITIES),
        "uf": pick(UFS),
        "qtd_itens": s(pa.array(1 + kn % 4)),
        "data_prev_entrega_original": date(np.asarray(nfe, dtype=np.int64) + 7),
        "cpf_destinatario": pc.binary_join_element_wise(
            *[pc.utf8_lpad(s(pa.array(kn % m)), 3, "0") for m in (1000, 997, 991)], "."),
        "grau_risco": pick(["BAIXO", "MEDIO", "ALTO"]),
        "tipo_operacao": pick(["VENDA", "TROCA"]),
    }
    return pc.binary_join_element_wise(*[cols[c] for _, c in COLUMNS], ";").to_pylist()


def _render(f, seed):
    """CSV bytes of one file dict."""
    d = f["dialect"]
    rng = random.Random(f"render:{seed}:{f['name']}")
    sep = d["sep"]

    def cell(v):
        v = str(v)
        if sep == "," and ("," in v or '"' in v):
            return '"' + v.replace('"', '""') + '"'
        return v

    if not f["good"]:
        lines = [sep.join(BAD_HEADER)]
        lines += [sep.join(cell(f"{i}-{h}") for h in BAD_HEADER) for i in range(5)]
    else:
        lines = [sep.join(_header(d))]
        for k, ev, nfe, ins, car in f["rows"]:
            st = rng.randrange(4) if d["styles"] else 0
            key = chave(k)
            if d["spaced_key"]:
                key = " ".join(key[i:i + 4] for i in range(0, 44, 4))
            nfe_d = EPOCH.date() + dt.timedelta(days=nfe)
            vals = {
                "id": k, "chave_nfe": key, "data_nfe": _fmt_date(nfe_d, st),
                "data_ultima_ocr": "" if ev is None else _fmt_ts(
                    EPOCH + dt.timedelta(seconds=ev), st % 3),
                "data_insercao": _fmt_ts(EPOCH + dt.timedelta(seconds=ins), 0),
                "transportador": "" if car is None else CARRIERS[car],
                "pedido": f"P{k}", "tipo_entrega": rng.choice(["NORMAL", "EXPRESSA"]),
                "serie_nfe": str(1 + k % 3), "numero_nfe": str(100000 + k),
                "valor_nfe": _fmt_decimal(rng.uniform(10, 20000), st % 3),
                "qtd_volumes": str(1 + k % 9),
                "peso": _fmt_decimal(rng.uniform(0.1, 900), 1),
                "nome_destinatario": rng.choice(NAMES) + ("" if sep != "," else ", ME"),
                "cep": f"{rng.randrange(10000, 99999)}-{rng.randrange(1000):03d}",
                "cd": f"CD{k % 5}",
                "status_prazo": rng.choice(["No prazo", "Atrasado"]),
                "ultima_ocorrencia": rng.choice(EVENTS),
                "cidades": rng.choice(CITIES), "uf": rng.choice(UFS),
                "qtd_itens": str(1 + k % 4),
                "data_prev_entrega_original": _fmt_date(nfe_d + dt.timedelta(days=7), 0),
                "cpf_destinatario": f"{k % 1000:03d}.{k % 997:03d}.{k % 991:03d}",
                "grau_risco": rng.choice(["BAIXO", "MEDIO", "ALTO"]),
                "tipo_operacao": rng.choice(["VENDA", "TROCA"]),
            }
            cells = [cell(vals[c]) for _, c in COLUMNS]
            if d["ragged"] and rng.random() < d["ragged"]:
                cells = cells[:len(cells) - rng.randrange(1, RAGGED_MAX + 1)]
            lines.append(sep.join(cells))
    return ("\r\n".join(lines) + "\r\n").encode(d["enc"])


def write_files(placed, seed):
    """Write (directory, file dict) pairs. The good reference-dialect files
    are rendered together in one column-wise batch."""
    ref = [(d, f) for d, f in placed if f["good"] and f["dialect"] is REFERENCE]
    lines = _reference_lines([r for _, f in ref for r in f["rows"]],
                             random.Random(f"render:{seed}").randrange(2**32))
    header = ";".join(_header(REFERENCE))
    at = 0
    for d, f in placed:
        os.makedirs(d, exist_ok=True)
        if f["good"] and f["dialect"] is REFERENCE:
            n = len(f["rows"])
            data = "\r\n".join([header] + lines[at:at + n]) + "\r\n"
            at += n
            data = data.encode("utf-8")
        else:
            data = _render(f, seed)
        with open(os.path.join(d, f["name"]), "wb") as fh:
            fh.write(data)


def generate_drops(seed, workload, out_dir, timed):
    """Write the workload's drops under `out_dir`: `setup/` (the backfill)
    and `cycle_NNN/` for each warm-up cycle and then each of the `timed`
    cycles. Returns (setup_drop, [drop, ...]) as file-dict lists for the
    `Model`."""
    s = SHAPES[workload]
    g = DropGenerator(seed, workload)
    setup = g.backfill()
    drops = [g.drop() for _ in range(s["warmup"] + timed)]
    write_files([(os.path.join(out_dir, "setup"), f) for f in setup]
                + [(os.path.join(out_dir, f"cycle_{i:03d}"), f)
                   for i, d in enumerate(drops) for f in d], seed)
    return setup, drops


def model_after(setup, drops, cycles):
    """The model after the set-up drop and the first `cycles` drops."""
    m = Model()
    m.apply(setup)
    for d in drops[:cycles]:
        m.apply(d)
    return m


# ---------------------------------------------------------------- tables

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def generate_tables(seed, out_dir, scale=1.0):
    """The ten driver tables at `scale` x sf0.01 row counts, driver schemas."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def n(base):
        return max(1, int(base * scale))

    def write(name, cols, schema):
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(out_dir, f"{name}.parquet"))

    ts_us = pa.timestamp("us")
    write("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
          pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                     ("n_regionkey", pa.int32())]))
    nc, ns, npart, no, nl = n(1500), n(100), n(2000), n(15000), n(60000)
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)},
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))
    write("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)},
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    write("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                              "STANDARD", "LARGE"], npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2)},
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    day_us = 86400 * 10**6
    d0 = int((dt.datetime(1995, 1, 1) - EPOCH).total_seconds()) * 10**6
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(d0 + rng.integers(0, 2404, no) * day_us, ts_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)},
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", ts_us), ("o_orderpriority", pa.string())]))
    write("lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(d0 + rng.integers(1, 2500, nl) * day_us, ts_us)},
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", ts_us)]))
    ne = n(10000)
    e0 = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 10**6
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(e0 + np.sort(rng.integers(0, 30 * day_us, ne)), ts_us),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": rng.choice(["click", "view", "signup", "purchase", "error"], ne),
        "value": np.round(rng.exponential(50, ne), 2) + 0.01,
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)]},
        pa.schema([("event_id", pa.int64()), ("ts", ts_us), ("user_id", pa.int64()),
                   ("event_type", pa.string()), ("value", pa.float64()),
                   ("props", pa.string())]))
    nd = n(500)
    texts = []
    for i in range(nd):
        if i >= 13 and rng.random() < 0.08:  # near-duplicate of doc i-13
            w = texts[i - 13].split()
            w[int(rng.integers(0, len(w)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))
    nv, dim = n(500), 64
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 1.5, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)},
        pa.schema([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]))
