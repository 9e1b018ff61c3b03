#!/usr/bin/env python3
"""Independent (non-graft) reader over an IcebergExport table.

The sandbox cannot load DuckDB's iceberg extension (zero egress) and
ships no pyiceberg/fastavro, so this is the fallback witness the
round-14 verdict asked for: a from-scratch walker of the exported
layout written in a different language from the exporter/importer,
directly from the PUBLIC specs:

  - Avro object-container-file format (magic, metadata map, sync
    markers, blocks; null/deflate codecs; generic datum decoding driven
    by the embedded writer schema JSON) -- nothing shared with the JVM
    Avro library the exporter uses;
  - Iceberg table-spec scan planning (version-hint -> metadata JSON ->
    current snapshot -> manifest list -> manifests -> entry statuses,
    data vs delete files, sequence numbers);
  - delete application in DuckDB SQL: position deletes anti-joined on
    (file, row number) with same-or-later sequence gating, equality
    deletes anti-joined null-safely on the equality_ids columns with
    strictly-earlier gating.

Usage:
  ice_independent_read.py <table-dir> <sql> [--snapshot <id>]
      <sql> runs in DuckDB with view `t` = the planned scan (pinned at
      <id> when given, else the current snapshot).
  ice_independent_read.py <table-dir> --changes <fromSnapshot> <sql>
      changelog-range replay: per-step MULTISET STATE DIFFS between
      consecutive pinned snapshots after <fromSnapshot>; view `t` = the
      change rows with _change_type/_commit_snapshot_id prepended.
Prints the result rows; exits non-zero on any spec violation, including
a manifest list without `format-version` or a manifest without one of the
spec-required header keys (schema, partition-spec, partition-spec-id,
format-version, content).
"""
import io
import json
import os
import struct
import sys
import zlib


# ---------------------------------------------------------------- avro
class Reader(io.BytesIO):
    def need(self, n):
        b = self.read(n)
        if len(b) != n:
            raise EOFError(f"wanted {n} bytes, got {len(b)}")
        return b


def zigzag(r):
    shift, acc = 0, 0
    while True:
        b = r.need(1)[0]
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def read_datum(r, schema, names):
    if isinstance(schema, str) and schema in names:
        schema = names[schema]
    if isinstance(schema, list):  # union
        idx = zigzag(r)
        return read_datum(r, schema[idx], names)
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return None
    if t == "boolean":
        return r.need(1)[0] != 0
    if t in ("int", "long"):
        return zigzag(r)
    if t == "float":
        return struct.unpack("<f", r.need(4))[0]
    if t == "double":
        return struct.unpack("<d", r.need(8))[0]
    if t == "bytes":
        return r.need(zigzag(r))
    if t == "string":
        return r.need(zigzag(r)).decode("utf-8")
    if t == "fixed":
        return r.need(schema["size"])
    if t == "enum":
        return schema["symbols"][zigzag(r)]
    if t == "array":
        out = []
        while True:
            n = zigzag(r)
            if n == 0:
                break
            if n < 0:
                zigzag(r)  # block byte size, unused
                n = -n
            for _ in range(n):
                out.append(read_datum(r, schema["items"], names))
        return out
    if t == "map":
        out = {}
        while True:
            n = zigzag(r)
            if n == 0:
                break
            if n < 0:
                zigzag(r)
                n = -n
            for _ in range(n):
                k = r.need(zigzag(r)).decode("utf-8")
                out[k] = read_datum(r, schema["values"], names)
        return out
    if t == "record":
        if "name" in schema:
            names[schema["name"]] = schema
        return {f["name"]: read_datum(r, f["type"], names) for f in schema["fields"]}
    raise ValueError(f"unhandled avro type {t!r}")


def read_avro_file(path):
    """-> (records, file-metadata dict)."""
    with open(path, "rb") as fh:
        raw = fh.read()
    r = Reader(raw)
    if r.need(4) != b"Obj\x01":
        raise ValueError(f"{path}: bad avro magic")
    meta = {}
    while True:
        n = zigzag(r)
        if n == 0:
            break
        if n < 0:
            zigzag(r)
            n = -n
        for _ in range(n):
            k = r.need(zigzag(r)).decode("utf-8")
            meta[k] = r.need(zigzag(r))
    sync = r.need(16)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    records = []
    while r.tell() < len(raw):
        count = zigzag(r)
        size = zigzag(r)
        block = r.need(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec}")
        br = Reader(block)
        for _ in range(count):
            records.append(read_datum(br, schema, {}))
        if r.need(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch")
    return records, meta


# ------------------------------------------- puffin deletion vectors
def decode_roaring64(b):
    """The 64-bit roaring "portable" serialization (Iceberg v3 DV
    vector): 8-byte LE map count, then per map a 4-byte LE high key +
    one 32-bit roaring bitmap (cookies 12346/12347; array, bitmap and
    run containers)."""
    off = 0
    (nmaps,) = struct.unpack_from("<q", b, off); off += 8
    out = []
    for _ in range(nmaps):
        (high,) = struct.unpack_from("<I", b, off); off += 4
        high = high << 32
        (cookie,) = struct.unpack_from("<i", b, off); off += 4
        has_runs = (cookie & 0xFFFF) == 12347
        if has_runs:
            n = (cookie >> 16) + 1
            nb = (n + 7) // 8
            run_flags = b[off:off + nb]; off += nb
        else:
            assert cookie == 12346, f"bad roaring cookie {cookie}"
            (n,) = struct.unpack_from("<i", b, off); off += 4
            run_flags = b""
        keys, cards = [], []
        for _i in range(n):
            (k, c) = struct.unpack_from("<HH", b, off); off += 4
            keys.append(k); cards.append(c + 1)
        if (not has_runs) or n >= 4:
            off += 4 * n  # container offsets; layout is sequential anyway
        for i in range(n):
            base = high | (keys[i] << 16)
            is_run = has_runs and (run_flags[i // 8] >> (i % 8)) & 1
            if is_run:
                (nruns,) = struct.unpack_from("<H", b, off); off += 2
                for _r in range(nruns):
                    (s0, l0) = struct.unpack_from("<HH", b, off); off += 4
                    out.extend(base | v for v in range(s0, s0 + l0 + 1))
            elif cards[i] <= 4096:
                vals = struct.unpack_from(f"<{cards[i]}H", b, off)
                off += 2 * cards[i]
                out.extend(base | v for v in vals)
            else:
                words = struct.unpack_from("<1024Q", b, off); off += 8192
                for w, word in enumerate(words):
                    while word:
                        v = (word & -word).bit_length() - 1
                        out.append(base | (w * 64 + v))
                        word &= word - 1
    return out


def read_dv_blob(path, offset, size):
    """One deletion-vector-v1 blob, addressed by the manifest triple
    (never needs the Puffin footer): 4-byte BE length of magic+vector,
    magic D1 D3 39 64, the roaring64 vector, 4-byte BE CRC-32."""
    with open(path, "rb") as fh:
        fh.seek(offset)
        blob = fh.read(size)
    (ln,) = struct.unpack_from(">i", blob, 0)
    assert ln == len(blob) - 8, f"DV blob length {ln} does not frame {len(blob)} bytes"
    assert blob[4:8] == b"\xd1\xd3\x39\x64", "bad deletion-vector magic"
    (crc,) = struct.unpack_from(">I", blob, len(blob) - 4)
    assert (zlib.crc32(blob[4:-4]) & 0xFFFFFFFF) == crc, "deletion-vector CRC mismatch"
    return decode_roaring64(blob[8:-4])


# ------------------------------------------------------------- iceberg
# the key-value metadata the table spec requires of every v2+ manifest
# ("Manifests") and of every manifest list ("Manifest Lists")
MANIFEST_KEYS = ("schema", "partition-spec", "partition-spec-id", "format-version", "content")
LIST_KEYS = ("format-version",)


def check_header(path, meta, required):
    missing = [k for k in required if k not in meta]
    if missing:
        raise SystemExit(f"{path}: missing spec-required header key(s) {missing}")


def resolve(table_dir, p):
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        return p
    if p.startswith("/"):
        return p
    return os.path.join(table_dir, p)


def load_md(table_dir):
    """The head metadata JSON (version-hint, else highest version of
    either naming convention)."""
    meta_dir = os.path.join(table_dir, "metadata")
    hint_path = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint_path):
        with open(hint_path) as fh:
            hint = fh.read().strip()
        cand = [f"v{hint}.metadata.json", f"v{int(hint):05d}.metadata.json"]
        md_path = next(os.path.join(meta_dir, c) for c in cand
                       if os.path.exists(os.path.join(meta_dir, c)))
    else:
        # no hint file: HadoopTableOperations v<N> names or the catalog
        # convention <NNNNN>-<uuid>.metadata.json — highest version wins
        import re
        best = None
        for n in os.listdir(meta_dir):
            m = (re.match(r"v(\d+)\.metadata\.json$", n) or
                 re.match(r"(\d+)-[^/]+\.metadata\.json$", n))
            if m:
                key = (int(m.group(1)), n)
                if best is None or key > best[0]:
                    best = (key, n)
        if best is None:
            raise SystemExit(f"no *.metadata.json under {meta_dir}")
        md_path = os.path.join(meta_dir, best[1])
    return json.load(open(md_path))


def plan_scan(table_dir, snapshot_id=None):
    """Scan plan at the CURRENT snapshot, or — SNAPSHOT-PINNED (r19,
    the changelog-range witness's requirement) — at an explicit
    snapshot id: same manifests walk, just anchored at the named
    snapshot's manifest list instead of the head's."""
    md = load_md(table_dir)
    assert md["format-version"] in (2, 3), "expected a v2/v3 table"
    snap_id = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = next((s for s in md["snapshots"] if s["snapshot-id"] == snap_id), None)
    if snap is None:
        raise SystemExit(f"snapshot {snap_id} not in the metadata of {table_dir}")
    schemas = {s["schema-id"]: s for s in md["schemas"]}
    schema = schemas[md["current-schema-id"]]
    field_names = {f["id"]: f["name"] for f in schema["fields"]}

    # the spec's COLUMN PROJECTION fallback for id-less data files:
    # field id -> historical names (schema.name-mapping.default)
    name_mapping = {}
    props = md.get("properties") or {}
    if "schema.name-mapping.default" in props:
        for e in json.loads(props["schema.name-mapping.default"]):
            if "field-id" in e and "names" in e:
                name_mapping[e["field-id"]] = e["names"]

    # partition specs by id — identity fields feed the spec's
    # identity-projection rule (the source column may live only in
    # partition metadata, never in the data files)
    specs = {}
    for s in md.get("partition-specs") or []:
        specs[s.get("spec-id", 0)] = s.get("fields") or []

    list_path = resolve(table_dir, snap["manifest-list"])
    mlist, lmeta = read_avro_file(list_path)
    check_header(list_path, lmeta, LIST_KEYS)
    data, deletes = [], []
    for m in mlist:
        seq0 = m.get("sequence_number", 0)
        spec_fields = specs.get(m.get("partition_spec_id", 0), [])
        # v3 ROW LINEAGE (r20, fixture 18): the manifest's assigned
        # first_row_id (spec id 520); data entries inherit
        # manifest.first_row_id + preceding null-entry record counts,
        # explicit per-entry values win. None (pre-v3 lists) = no
        # lineage for those rows.
        m_first = m.get("first_row_id")
        rowid_run = 0
        m_path = resolve(table_dir, m["manifest_path"])
        entries, mmeta = read_avro_file(m_path)
        check_header(m_path, mmeta, MANIFEST_KEYS)
        for e in entries:
            if e.get("status", 1) == 2:
                continue
            df = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                if e.get("status", 1) != 1:
                    raise ValueError("non-ADDED entry without explicit sequence")
                seq = seq0
            # this file's identity partition values: source column name
            # -> decoded value (dates arrive as epoch-day ints)
            ident = {}
            scope = []
            part = df.get("partition") or {}
            for f in spec_fields:
                if f.get("name") not in part:
                    continue
                src = field_names.get(f.get("source-id"))
                ftype = next((fl.get("type") for fl in schema["fields"]
                              if fl.get("id") == f.get("source-id")), None)
                v = part[f.get("name")]
                if v is not None and ftype == "date" and f.get("transform") == "identity":
                    import datetime
                    v = (datetime.date(1970, 1, 1) +
                         datetime.timedelta(days=v)).isoformat()
                if f.get("transform") == "identity" and src:
                    ident[src] = v
                scope.append((src, f.get("transform"), v, ftype))
            dv = None
            if (df.get("content_offset") is not None and
                    df.get("referenced_data_file") is not None):
                dv = (df["referenced_data_file"], df["content_offset"],
                      df["content_size_in_bytes"])
            first_row_id = None
            if df.get("content", 0) == 0:
                first_row_id = df.get("first_row_id")
                if first_row_id is None and m_first is not None:
                    first_row_id = m_first + rowid_run
                    rowid_run += df["record_count"]
            rec = {
                "path": resolve(table_dir, df["file_path"]),
                "seq": seq,
                "content": df.get("content", 0),
                "first_row_id": first_row_id,
                "format": str(df.get("file_format", "PARQUET")).upper(),
                "eq_ids": df.get("equality_ids") or [],
                "record_count": df["record_count"],
                "ident": ident,
                "scope": scope,
                "dv": dv,
            }
            (data if rec["content"] == 0 else deletes).append(rec)
    return data, deletes, field_names, schema["fields"], name_mapping


DUCK_TYPES = {"boolean": "BOOLEAN", "int": "INTEGER", "long": "BIGINT",
              "float": "FLOAT", "double": "DOUBLE", "date": "DATE",
              "string": "VARCHAR", "uuid": "VARCHAR", "binary": "BLOB",
              "timestamp": "TIMESTAMP", "timestamptz": "TIMESTAMPTZ"}


def duck_type(t):
    if isinstance(t, str):
        if t in DUCK_TYPES:
            return DUCK_TYPES[t]
        if t.startswith("decimal("):
            return t.upper()
    raise SystemExit(f"unmapped Iceberg type for independent read: {t}")


def resolve_fields(con, src_sql, fields, name_mapping, ident_cols=(), qual=""):
    """Per the spec's projection rules over id-less files: each CURRENT
    field selects its own name when the parquet carries it, else a
    mapped historical name, else its per-file IDENTITY partition value
    (the spec's identity-projection rule; `ident_cols` name the columns
    the pv table supplies), else a typed NULL (the file predates the
    column); everything casts to the CURRENT type (legal promotions
    widen)."""
    avail = {r[0] for r in con.execute(f"DESCRIBE {src_sql}").fetchall()}
    parts = []
    for f in fields:
        ty = duck_type(f["type"])
        src = None
        if f["name"] in avail:
            src = qual + f'"{f["name"]}"'
            # union_by_name NULL-fills files that LACK the column — for
            # an identity-partitioned column the partition value wins
            if f["name"] in ident_cols:
                src = f'COALESCE({src}, pv."{f["name"]}")'
        else:
            old = next((n for n in name_mapping.get(f["id"], []) if n in avail), None)
            if old is not None:
                src = qual + f'"{old}"'
            elif f["name"] in ident_cols:
                src = f'pv."{f["name"]}"'
        if src is None:
            parts.append(f'CAST(NULL AS {ty}) AS "{f["name"]}"')
        else:
            parts.append(f'CAST({src} AS {ty}) AS "{f["name"]}"')
    return ", ".join(parts)


def prepare(con, table_dir, snapshot_id=None, lineage=False):
    """Create view `t` = the planned scan (deletes applied) in `con`,
    at the head or a PINNED snapshot. With `lineage`, `t` also carries
    the v3 row-lineage columns `_row_id` (file first_row_id + row
    ordinal; NULL for pre-upgrade history) and
    `_last_updated_sequence_number` (the file's data sequence)."""
    data, deletes, field_names, fields, name_mapping = plan_scan(table_dir, snapshot_id)
    if not data:
        # a legitimately empty state (pinned pre-data snapshot)
        cols = ", ".join(f'CAST(NULL AS {duck_type(f["type"])}) AS "{f["name"]}"'
                         for f in fields)
        con.execute(f"CREATE VIEW t AS SELECT {cols} WHERE 1=0")
        return

    def flist(fs):
        return "[" + ",".join("'" + f["path"].replace("'", "''") + "'" for f in fs) + "]"

    seq_rows = ",".join(
        "('{}',{},{})".format(f["path"], f["seq"],
                              "NULL" if f.get("first_row_id") is None
                              else f["first_row_id"])
        for f in data)
    con.execute(f"CREATE TABLE fseq(path VARCHAR, seq BIGINT, frid BIGINT); "
                f"INSERT INTO fseq VALUES {seq_rows}")
    # per-file IDENTITY partition values (the spec's projection rule
    # for columns living only in partition metadata)
    ident_cols = sorted({c for f in data for c in f.get("ident", {})})
    pv_join = ""
    if ident_cols:
        cols_ddl = ", ".join(f'"{c}" VARCHAR' for c in ident_cols)
        con.execute(f"CREATE TABLE pv(path VARCHAR, {cols_ddl})")
        for f in data:
            vals = [f["path"]] + [f.get("ident", {}).get(c) for c in ident_cols]
            ph = ",".join("?" for _ in vals)
            con.execute(f"INSERT INTO pv VALUES ({ph})", vals)
        pv_join = " LEFT JOIN pv ON d.filename = pv.path"
    parq = [f for f in data if f["format"] == "PARQUET"]
    avro = [f for f in data if f["format"] == "AVRO"]
    bad = [f for f in data if f["format"] not in ("PARQUET", "AVRO")]
    if bad:
        raise SystemExit(f"unsupported data-file format(s): {sorted({f['format'] for f in bad})}")
    branches = []
    if parq:
        data_read = (f"read_parquet({flist(parq)}, filename=true, "
                     f"file_row_number=true, union_by_name=true)")
        sel = resolve_fields(con, f"SELECT * FROM {data_read}", fields, name_mapping,
                             ident_cols=set(ident_cols), qual="d.")
        branches.append(
            f"SELECT {sel}, d.filename, d.file_row_number, fseq.seq AS __seq, "
            f"fseq.frid AS __frid "
            f"FROM {data_read} d JOIN fseq ON d.filename = fseq.path{pv_join}")
    if avro:
        # AVRO data files (spec: file_format=AVRO): decode with the
        # same from-scratch container reader the manifests use, resolve
        # columns by the Iceberg `field-id` props in the file schema
        # (name fallback), convert logical types, and land them in a
        # typed table so the delete pipeline sees one uniform shape
        import datetime
        import decimal as _dec
        ddl = ", ".join(f'"{f["name"]}" {duck_type(f["type"])}' for f in fields)
        con.execute(f"CREATE TABLE avrodata(__path VARCHAR, __rownum BIGINT, {ddl})")

        def conv(v, t):
            if v is None:
                return None
            if t == "date":
                return datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
            if t in ("timestamp", "timestamptz"):
                return (datetime.datetime(1970, 1, 1) +
                        datetime.timedelta(microseconds=v))
            if isinstance(t, str) and t.startswith("decimal("):
                scale = int(t[len("decimal("):-1].split(",")[1])
                return _dec.Decimal(
                    int.from_bytes(v, "big", signed=True)).scaleb(-scale)
            return v

        for f in avro:
            records, fmeta = read_avro_file(f["path"])
            fschema = json.loads(fmeta["avro.schema"])

            def file_field(cf):
                for ff in fschema["fields"]:
                    fid = ff.get("field-id")
                    if fid is not None and int(fid) == cf["id"]:
                        return ff["name"]
                return cf["name"] if any(
                    ff["name"] == cf["name"] for ff in fschema["fields"]) else None

            resolvers = [file_field(cf) for cf in fields]
            ph = ",".join("?" for _ in range(len(fields) + 2))
            for i, rec in enumerate(records):
                vals = [f["path"], i] + [
                    conv(rec.get(rn) if rn else None, cf["type"])
                    for rn, cf in zip(resolvers, fields)]
                con.execute(f"INSERT INTO avrodata VALUES ({ph})", vals)
        acols = ", ".join(f'a."{f["name"]}"' for f in fields)
        branches.append(
            f"SELECT {acols}, a.__path AS filename, a.__rownum AS file_row_number, "
            f"fseq.seq AS __seq, fseq.frid AS __frid "
            f"FROM avrodata a JOIN fseq ON a.__path = fseq.path")
    base = " UNION ALL BY NAME ".join(f"({b})" for b in branches)
    con.execute(f"CREATE VIEW base AS {base}")
    view = "base"
    pos = [f for f in deletes if f["content"] == 1]
    pos_parq = [f for f in pos if not f.get("dv")]
    pos_dv = [f for f in pos if f.get("dv")]
    if pos:
        rels = []
        if pos_parq:
            pos_vals = ",".join("('{}',{})".format(f["path"], f["seq"]) for f in pos_parq)
            rels.append(
                f"SELECT pd.file_path, pd.pos, fs2.seq AS dseq "
                f"FROM read_parquet({flist(pos_parq)}, filename=true) pd "
                f"JOIN (VALUES {pos_vals}) fs2(path, seq) ON pd.filename = fs2.path")
        if pos_dv:
            # v3 deletion vectors: decode each Puffin blob with the
            # from-scratch reader above; referenced_data_file is the
            # target spelling, the entry's sequence gates as usual
            con.execute("CREATE TABLE dvpos(file_path VARCHAR, pos BIGINT, dseq BIGINT)")
            for f in pos_dv:
                ref, offn, sz = f["dv"]
                rows = [(ref, int(p), f["seq"]) for p in read_dv_blob(f["path"], offn, sz)]
                con.executemany("INSERT INTO dvpos VALUES (?,?,?)", rows)
            rels.append("SELECT file_path, pos, dseq FROM dvpos")
        con.execute("CREATE VIEW posdel AS " + " UNION ALL ".join(rels))
        # delete rows may spell paths with a file:/ URI prefix while
        # DuckDB's filename= yields the bare local path — normalize
        con.execute(
            "CREATE VIEW afterpos AS SELECT * FROM base b WHERE NOT EXISTS ("
            "SELECT 1 FROM posdel p WHERE "
            "regexp_replace(p.file_path, '^file:/+', '/') = b.filename "
            "AND p.pos = b.file_row_number AND p.dseq >= b.__seq)")
        view = "afterpos"
    eq = [f for f in deletes if f["content"] == 2]
    for i, f in enumerate(eq):
        # delete files follow the same projection rule: their columns
        # resolve to CURRENT names (a pre-rename delete file's spelling
        # comes through the name mapping)
        eq_fields = [fl for fl in fields if fl["id"] in f["eq_ids"]]
        if len(eq_fields) != len(f["eq_ids"]):
            raise SystemExit(f"equality_ids {f['eq_ids']} not all in the current schema")
        dsel = resolve_fields(con, f"SELECT * FROM read_parquet('{f['path']}')",
                              eq_fields, name_mapping)
        cols = [fl["name"] for fl in eq_fields]
        conds = [f'e."{c}" IS NOT DISTINCT FROM v."{c}"' for c in cols]
        # the delete's PARTITION SCOPE (spec: a delete under a
        # partitioned spec applies only within its partition). The
        # witness expresses IDENTITY scope as SQL conditions on the
        # source column; any other scoping transform is refused —
        # applying it wrong would silently over-delete.
        for (src, transform, v, ftype) in f.get("scope", []):
            if transform != "identity":
                raise SystemExit(
                    f"equality delete scoped by {transform}({src}) — this witness "
                    "only evaluates identity scope")
            if src is None:
                raise SystemExit("identity-scoped delete with unresolvable source column")
            if v is None:
                lit = "NULL"
            elif ftype == "date":
                lit = f"CAST('{v}' AS DATE)"
            elif isinstance(v, str):
                lit = "'" + v.replace("'", "''") + "'"
            else:
                lit = str(v)
            conds.append(f'v."{src}" IS NOT DISTINCT FROM {lit}')
        con.execute(
            f"CREATE VIEW eq{i} AS SELECT * FROM {view} v WHERE NOT EXISTS ("
            f"SELECT 1 FROM (SELECT {dsel} FROM read_parquet('{f['path']}')) e "
            f"WHERE {' AND '.join(conds)} AND {f['seq']} > v.__seq)")
        view = f"eq{i}"
    user_cols = ", ".join(f'"{n}"' for n in field_names.values())
    extra = ""
    if lineage:
        extra = (", CASE WHEN __frid IS NOT NULL THEN __frid + file_row_number "
                 "END AS _row_id"
                 ", CASE WHEN __frid IS NOT NULL THEN __seq "
                 "END AS _last_updated_sequence_number")
    con.execute(f"CREATE VIEW t AS SELECT {user_cols}{extra} FROM {view}")


def run_changes(table_dir, from_snap, sql):
    """CHANGELOG-RANGE REPLAY (r19 — witness fixture 17): walk the main
    parent chain from `from_snap` (exclusive) to the head, build each
    snapshot's FULL pinned state independently, and derive per-step
    change rows as MULTISET STATE DIFFS (EXCEPT ALL both ways) — a
    second, deliberately different derivation from graft's
    manifest-diff changelog. `replace` (compaction) steps contribute
    nothing. Equivalence caveat, stated: a COW overwrite that rewrites
    surviving rows into new files emits delete+insert pairs in
    Iceberg's changelog that a state diff cannot see — this replay
    witnesses append / MOR-delete / MOR-overwrite ranges (the q171
    shape), which is exactly what fixture 17 builds.
    `sql` runs over view `t` = the change rows with `_change_type` and
    `_commit_snapshot_id` prepended."""
    import duckdb
    import tempfile
    md = load_md(table_dir)
    by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
    chain, cur = [], md["current-snapshot-id"]
    while cur is not None and cur in by_id:
        chain.append(by_id[cur])
        cur = by_id[cur].get("parent-snapshot-id")
    chain.reverse()
    ids = [s["snapshot-id"] for s in chain]
    if from_snap not in ids:
        raise SystemExit(f"snapshot {from_snap} not on the main lineage {ids}")
    start = ids.index(from_snap)
    tmpd = tempfile.mkdtemp(prefix="ice-changes-")

    def dump(snap_id, name):
        c = duckdb.connect()
        prepare(c, table_dir, snap_id)
        out = os.path.join(tmpd, f"{name}.parquet")
        c.execute(f"COPY (SELECT * FROM t) TO '{out}' (FORMAT PARQUET)")
        c.close()
        return out

    con = duckdb.connect()
    first = True
    prev_p = dump(ids[start], f"s{start}")
    for i in range(start + 1, len(ids)):
        op = (chain[i].get("summary") or {}).get("operation", "unknown")
        cur_p = dump(ids[i], f"s{i}")
        if op == "replace":
            prev_p = cur_p  # compaction: layout changed, rows did not
            continue
        ins = (f"(SELECT * FROM read_parquet('{cur_p}') EXCEPT ALL "
               f"SELECT * FROM read_parquet('{prev_p}'))")
        dels = (f"(SELECT * FROM read_parquet('{prev_p}') EXCEPT ALL "
                f"SELECT * FROM read_parquet('{cur_p}'))")
        step = (f"SELECT 'insert' AS _change_type, "
                f"CAST({ids[i]} AS BIGINT) AS _commit_snapshot_id, * FROM {ins} "
                f"UNION ALL SELECT 'delete', CAST({ids[i]} AS BIGINT), * FROM {dels}")
        con.execute(("CREATE TABLE changes AS " if first else "INSERT INTO changes ") + step)
        first = False
        prev_p = cur_p
    if first:
        raise SystemExit("empty change range")
    con.execute("CREATE VIEW t AS SELECT * FROM changes")
    for row in con.execute(sql).fetchall():
        print(row)


def main():
    args = sys.argv[1:]
    if len(args) >= 4 and args[1] == "--changes":
        run_changes(args[0], int(args[2]), args[3])
        return
    lineage = "--lineage" in args
    args = [a for a in args if a != "--lineage"]
    table_dir, sql = args[0], args[1]
    snap = None
    if "--snapshot" in args:
        snap = int(args[args.index("--snapshot") + 1])
    import duckdb
    con = duckdb.connect()
    prepare(con, table_dir, snap, lineage=lineage)
    for row in con.execute(sql).fetchall():
        print(row)


if __name__ == "__main__":
    main()
