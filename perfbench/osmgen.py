"""Seeded synthetic OpenStreetMap extract for the benchmark.

The generator builds a street grid: rows and columns of intersections,
streets that span a few blocks each, shape nodes between intersections,
dead-end spurs, car and non-car highway classes, `maxspeed` with and
without units, `oneway` values `yes` and `-1`, `access=private`, point
POIs and POI areas, and multipolygon / restriction / route relations.

From one model it writes
  * an `.osm.pbf` file (DenseNodes, ways, relations; zlib blobs), and
  * the expectations the benchmark checks the engine against: entity
    counts, the `highway` histogram, POI rows, the split-segment count of
    the car network and the strict directed edge list;
and for the graph workload the edge list itself, with its connected
components and what a multi-source search from given sources reaches.

The split and direction rules mirror the reference pipeline
(osm-road-graphs.sql, as implemented by graft.osm.RoadGraph): a car way is
cut at every interior node referenced more than once by car ways; a
segment is two-way unless `oneway` is `yes` / `-1`, and a motorway with no
`oneway` tag is dropped (the strict 3VL semantics).
"""
import math
import random
import struct
import zlib

CAR = ("motorway", "primary", "tertiary", "secondary", "primary_link",
       "tertiary_link", "secondary_link", "trunk", "residential",
       "unclassified", "living_street")
NODE_POI_KEYS = ("leisure", "sport", "shop", "office", "amenity", "craft",
                 "tourism", "emergency", "historic")
WAY_POI_KEYS = ("leisure", "landuse", "sport", "amenity")

LAT0, LON0 = 42.0, 19.0          # degrees; the Montenegro anchor's area
DLAT, DLON = 0.0010, 0.0013      # one block, about 110 m each way


class Model:
    def __init__(self):
        self.node_ids = []
        self.lat = {}            # id -> 1e-7 degree units
        self.lon = {}
        self.node_tags = {}      # id -> dict (tagged nodes only)
        self.ways = []           # (id, [refs], {tags})
        self.relations = []      # (id, {tags}, [(type, ref, role)])
        self._next = 1

    def node(self, lat, lon, tags=None):
        nid = self._next
        self._next += 1
        self.node_ids.append(nid)
        self.lat[nid] = int(round(lat * 1e7))
        self.lon[nid] = int(round(lon * 1e7))
        if tags:
            self.node_tags[nid] = tags
        return nid


def _street_class(rnd, line, vertical):
    if vertical and line % 23 == 11:
        return "motorway"
    if line % 10 == 0:
        return "primary"
    if line % 5 == 0:
        return "secondary"
    if line % 3 == 0:
        return "tertiary"
    r = rnd.random()
    if r < 0.06:
        return rnd.choice(("footway", "cycleway", "path", "service"))
    if r < 0.10:
        return "unclassified"
    if r < 0.12:
        return "living_street"
    return "residential"


_SPEEDS = {"motorway": ("110", "120 km/h", "70 mph"),
           "primary": ("70", "80 km/h", "50 mph"),
           "secondary": ("60", "60 km/h"),
           "tertiary": ("50", "50 km/h", "30 mph"),
           "residential": ("30", "30 km/h", "20 mph", "50")}


def _way_tags(rnd, cls, name):
    t = {"highway": cls, "name": name}
    if cls in CAR:
        if rnd.random() < 0.4:
            t["maxspeed"] = rnd.choice(_SPEEDS.get(cls, ("40", "40 km/h")))
        r = rnd.random()
        if cls == "motorway":
            # motorways: mostly oneway, some untagged (dropped by the
            # strict directed expansion), a few drawn in reverse
            t.update({"oneway": "yes"} if r < 0.6 else
                     {"oneway": "-1"} if r < 0.75 else {})
        elif r < 0.10:
            t["oneway"] = "yes"
        elif r < 0.15:
            t["oneway"] = "-1"
        elif r < 0.18:
            t["oneway"] = "no"
        r = rnd.random()
        if r < 0.03:
            t["access"] = "private"
        elif r < 0.045:
            t["bicycle"] = "designated"
        elif r < 0.05:
            t["motor_vehicle"] = "no"
    elif cls == "footway" and rnd.random() < 0.5:
        t["footway"] = "sidewalk"
    elif cls == "service" and rnd.random() < 0.3:
        t["service"] = "parking_aisle"
    return t


def build(seed, rows, cols, spur_share=0.08, poi_share=0.05, area_share=0.01):
    """A rows x cols street grid; everything else scales with it."""
    rnd = random.Random(seed)
    m = Model()
    grid = [[m.node(LAT0 + r * DLAT + rnd.uniform(-2e-5, 2e-5),
                    LON0 + c * DLON + rnd.uniform(-2e-5, 2e-5))
             for c in range(cols)] for r in range(rows)]
    wid = [1]

    def add_way(refs, tags):
        m.ways.append((wid[0], refs, tags))
        wid[0] += 1
        return wid[0] - 1

    def streets(points, line, vertical):
        i = 0
        while i < len(points) - 1:
            j = min(len(points) - 1, i + rnd.randint(1, 6))
            cls = _street_class(rnd, line, vertical)
            refs = [points[i]]
            for k in range(i, j):
                a, b = points[k], points[k + 1]
                if rnd.random() < 0.5:      # a shape node inside the block
                    tags = None
                    if rnd.random() < 0.05:
                        tags = {"highway": rnd.choice(
                            ("crossing", "traffic_signals"))}
                    refs.append(m.node(
                        (m.lat[a] + m.lat[b]) / 2e7 + rnd.uniform(-1e-5, 1e-5),
                        (m.lon[a] + m.lon[b]) / 2e7 + rnd.uniform(-1e-5, 1e-5),
                        tags))
                refs.append(b)
            add_way(refs, _way_tags(rnd, cls, "%s %d" % (
                "Avenue" if vertical else "Street", line)))
            i = j

    for r in range(rows):
        streets(grid[r], r, False)
    for c in range(cols):
        streets([grid[r][c] for r in range(rows)], c, True)

    # dead-end spurs: start at an intersection, never shared again
    for r in range(rows):
        for c in range(cols):
            if rnd.random() < spur_share:
                a = grid[r][c]
                refs = [a]
                for k in range(rnd.randint(1, 3)):
                    refs.append(m.node(m.lat[a] / 1e7 + (k + 1) * 3e-4,
                                       m.lon[a] / 1e7 + (k + 1) * 4e-4))
                cls = rnd.choice(("residential", "residential", "service",
                                  "track", "unclassified"))
                add_way(refs, _way_tags(rnd, cls, "Lane %d-%d" % (r, c)))

    # point POIs off the street network
    poi_values = {"amenity": ("cafe", "restaurant", "bench", "school"),
                  "shop": ("bakery", "supermarket"), "tourism": ("hotel",),
                  "leisure": ("playground",), "office": ("company",),
                  "craft": ("carpenter",), "emergency": ("defibrillator",),
                  "historic": ("memorial",), "sport": ("tennis",)}
    keys = sorted(poi_values)
    for i in range(int(rows * cols * poi_share)):
        tags = {}
        for k in rnd.sample(keys, 1 if rnd.random() < 0.8 else 2):
            tags[k] = rnd.choice(poi_values[k])
        if rnd.random() < 0.5:
            tags["name"] = "Place %d" % i
        m.node(LAT0 + rnd.uniform(0, rows * DLAT),
               LON0 + rnd.uniform(0, cols * DLON), tags)

    # POI areas: closed rings tagged with way POI keys; a few also carry
    # a highway tag, which the way-POI extraction must drop
    areas = []
    for i in range(max(1, int(rows * cols * area_share))):
        la = LAT0 + rnd.uniform(0, rows * DLAT)
        lo = LON0 + rnd.uniform(0, cols * DLON)
        ring = [m.node(la, lo), m.node(la + 2e-4, lo),
                m.node(la + 2e-4, lo + 3e-4), m.node(la, lo + 3e-4)]
        r = rnd.random()
        tags = ({"leisure": "park", "name": "Park %d" % i} if r < 0.4 else
                {"landuse": rnd.choice(("grass", "residential"))} if r < 0.7
                else {"leisure": "pitch", "sport": "soccer"} if r < 0.85
                else {"amenity": "parking", "highway": "service"} if r < 0.9
                else {"amenity": "parking"})
        areas.append(add_way(ring + ring[:1], tags))

    # relations: multipolygons over areas, turn restrictions, bus routes
    rid = 1
    for a in areas:
        m.relations.append((rid, {"type": "multipolygon"}, [("W", a, "outer")]))
        rid += 1
    road_ways = [w for w in m.ways if w[2].get("highway") in CAR]
    for i in range(max(1, len(road_ways) // 40)):
        w1, w2 = rnd.sample(road_ways, 2)
        m.relations.append((rid, {"type": "restriction",
                                  "restriction": "no_left_turn"},
                            [("W", w1[0], "from"), ("N", w1[1][-1], "via"),
                             ("W", w2[0], "to")]))
        rid += 1
    for i in range(max(1, len(road_ways) // 200)):
        members = [("W", w[0], "") for w in rnd.sample(road_ways, 8)]
        members.append(("N", rnd.choice(m.node_ids), "stop"))
        m.relations.append((rid, {"type": "route", "route": "bus",
                                  "ref": str(i)}, members))
        rid += 1
    return m


# ---------------------------------------------------------------- PBF --

def _varint(out, v):
    v &= 0xFFFFFFFFFFFFFFFF
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _zz(v):
    return (v << 1) ^ (v >> 63)


def _key(out, num, wire):
    _varint(out, (num << 3) | wire)


def _ld(out, num, payload):
    _key(out, num, 2)
    _varint(out, len(payload))
    out += payload


def _packed(nums, signed=False, delta=False):
    b = bytearray()
    prev = 0
    for v in nums:
        d = v - prev if delta else v
        prev = v
        _varint(b, _zz(d) if signed else d)
    return b


class _Strings:
    def __init__(self):
        self.idx = {"": 0}
        self.order = [""]

    def __call__(self, s):
        i = self.idx.get(s)
        if i is None:
            i = self.idx[s] = len(self.order)
            self.order.append(s)
        return i

    def table(self):
        b = bytearray()
        for s in self.order:
            _ld(b, 1, s.encode("utf-8"))
        return b


def _blob(f, kind, block):
    blob = bytearray()
    _key(blob, 2, 0)
    _varint(blob, len(block))
    _ld(blob, 3, zlib.compress(bytes(block), 6))
    header = bytearray()
    _ld(header, 1, kind.encode())
    _key(header, 3, 0)
    _varint(header, len(blob))
    f.write(struct.pack(">I", len(header)))
    f.write(header)
    f.write(blob)


def _info(eid):
    # deterministic metadata: version, timestamp (s), changeset, uid
    return (1 + eid % 3, 1_600_000_000 + (eid * 7919) % 50_000_000,
            10_000 + eid // 50, 100 + eid % 997)


def _primitive_block(strings, group):
    block = bytearray()
    _ld(block, 1, strings.table())
    _ld(block, 2, group)
    return block


def write_pbf(m, path, per_block=8000):
    with open(path, "wb") as f:
        hdr = bytearray()
        for feat in ("OsmSchema-V0.6", "DenseNodes"):
            _ld(hdr, 4, feat.encode())
        _ld(hdr, 16, b"perfbench")
        _blob(f, "OSMHeader", hdr)
        ids = m.node_ids
        for s in range(0, len(ids), per_block):
            chunk = ids[s:s + per_block]
            st = _Strings()
            kv = []
            for nid in chunk:
                for k, v in m.node_tags.get(nid, {}).items():
                    kv += (st(k), st(v))
                kv.append(0)
            infos = [_info(nid) for nid in chunk]
            dinfo = bytearray()
            _ld(dinfo, 1, _packed([i[0] for i in infos]))
            _ld(dinfo, 2, _packed([i[1] for i in infos], True, True))
            _ld(dinfo, 3, _packed([i[2] for i in infos], True, True))
            _ld(dinfo, 4, _packed([i[3] for i in infos], True, True))
            dense = bytearray()
            _ld(dense, 1, _packed(chunk, True, True))
            _ld(dense, 5, dinfo)
            _ld(dense, 8, _packed([m.lat[n] for n in chunk], True, True))
            _ld(dense, 9, _packed([m.lon[n] for n in chunk], True, True))
            _ld(dense, 10, _packed(kv))
            group = bytearray()
            _ld(group, 2, dense)
            _blob(f, "OSMData", _primitive_block(st, group))

        def entities(items, field, encode):
            for s in range(0, len(items), per_block):
                st = _Strings()
                group = bytearray()
                for it in items[s:s + per_block]:
                    _ld(group, field, encode(st, it))
                _blob(f, "OSMData", _primitive_block(st, group))

        def info_msg(eid):
            v, t, c, u = _info(eid)
            b = bytearray()
            for num, val in ((1, v), (2, t), (3, c), (4, u)):
                _key(b, num, 0)
                _varint(b, val)
            return b

        def way(st, w):
            wid, refs, tags = w
            b = bytearray()
            _key(b, 1, 0)
            _varint(b, wid)
            _ld(b, 2, _packed([st(k) for k in tags]))
            _ld(b, 3, _packed([st(v) for v in tags.values()]))
            _ld(b, 4, info_msg(wid))
            _ld(b, 8, _packed(refs, True, True))
            return b

        def relation(st, r):
            rid, tags, members = r
            b = bytearray()
            _key(b, 1, 0)
            _varint(b, rid)
            _ld(b, 2, _packed([st(k) for k in tags]))
            _ld(b, 3, _packed([st(v) for v in tags.values()]))
            _ld(b, 4, info_msg(rid))
            _ld(b, 8, _packed([st(role) for _, _, role in members]))
            _ld(b, 9, _packed([ref for _, ref, _ in members], True, True))
            _ld(b, 10, _packed(["NWR".index(t) for t, _, _ in members]))
            return b

        entities(m.ways, 3, way)
        entities(m.relations, 4, relation)


# ------------------------------------------------------- expectations --

def _excluded(t):
    return (t.get("bicycle") == "designated" or t.get("foot") == "designated"
            or t.get("bus") == "designated"
            or t.get("footway") in ("sidewalk", "crossing")
            or t.get("motor_vehicle") in ("no", "private")
            or t.get("access") in ("no", "private")
            or t.get("service") in ("parking_aisle", "parking"))


def _haversine(m, a, b):
    la1, lo1 = m.lat[a] * 1e-7, m.lon[a] * 1e-7
    la2, lo2 = m.lat[b] * 1e-7, m.lon[b] * 1e-7
    p1, p2 = math.radians(la1), math.radians(la2)
    h = (math.sin((p2 - p1) / 2) ** 2 + math.cos(p1) * math.cos(p2)
         * math.sin(math.radians(lo2 - lo1) / 2) ** 2)
    return 2 * 6371008.8 * math.asin(math.sqrt(h))


def car_segments(m):
    """(way tags, node list, split?) for every segment of the car network."""
    net = [w for w in m.ways
           if w[2].get("highway") in CAR and not _excluded(w[2])]
    refs = {}
    for _, nodes, _ in net:
        for n in nodes:
            refs[n] = refs.get(n, 0) + 1
    segs = []
    for _, nodes, tags in net:
        cuts = [i for i in range(1, len(nodes) - 1) if refs[nodes[i]] > 1]
        if len(nodes) < 3 or not cuts:
            segs.append((tags, nodes, False))
            continue
        bounds = [0] + cuts + [len(nodes) - 1]
        for a, b in zip(bounds, bounds[1:]):
            segs.append((tags, nodes[a:b + 1], True))
    return segs


def directed_edges(m, segs):
    """(start, end, length m, split?) of the strict directed expansion."""
    out = []
    for tags, nodes, split in segs:
        hw, ow = tags.get("highway"), tags.get("oneway")
        length = sum(_haversine(m, a, b) for a, b in zip(nodes, nodes[1:]))
        if ow in (None, "no") and hw != "motorway":
            out.append((nodes[0], nodes[-1], length, split))
            out.append((nodes[-1], nodes[0], length, split))
        elif ow == "yes" or (hw == "motorway" and ow is not None and ow != "-1"):
            out.append((nodes[0], nodes[-1], length, split))
        elif ow == "-1":
            out.append((nodes[-1], nodes[0], length, split))
    return out


def components(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return len({find(x) for x in parent}), len(parent)


def reachable(edges, sources):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    seen = set(sources)
    stack = list(sources)
    while stack:
        for v in adj.get(stack.pop(), ()):
            if v not in seen:
                seen.add(v)
                stack.append(v)
    return len(seen)


def pair_digest(pairs):
    """md5 over the sorted (start, end) pairs: the edge list as a multiset."""
    import hashlib
    h = hashlib.md5()
    for a, b in sorted(pairs):
        h.update(b"%d,%d\n" % (a, b))
    return h.hexdigest()


def expectations(m):
    hist = {}
    for _, _, t in m.ways:
        if "highway" in t:
            hist[t["highway"]] = hist.get(t["highway"], 0) + 1
    poi_nodes = sum(sum(k in t for k in NODE_POI_KEYS)
                    for t in m.node_tags.values())
    poi_ways = sum(sum(k in t for k in WAY_POI_KEYS)
                   for _, _, t in m.ways if "highway" not in t)
    segs = car_segments(m)
    edges = directed_edges(m, segs)
    return {
        "counts": {"nodes": len(m.node_ids), "ways": len(m.ways),
                   "way_nodes": sum(len(w[1]) for w in m.ways),
                   "relations": len(m.relations),
                   "relation_members": sum(len(r[2]) for r in m.relations)},
        "highway_hist": hist,
        "poi_rows": poi_nodes + poi_ways,
        "split_segments": len(segs),
        "edges": len(edges),
        "edge_digest": pair_digest((a, b) for a, b, _, _ in edges),
        "whole_way_edges": sum(1 for e in edges if not e[3]),
    }


def edge_list(m, grid, spacing):
    """The strict directed edge list, and the accessibility sources: the
    intersections on every `spacing`-th row and column (intersection ids
    are 1 + row * grid + col) that start an edge."""
    edges = directed_edges(m, car_segments(m))
    starts = {a for a, _, _, _ in edges}
    sources = sorted(1 + r * grid + c for r in range(0, grid, spacing)
                     for c in range(0, grid, spacing)
                     if 1 + r * grid + c in starts)
    return edges, sources


def graph_expectations(edges, sources):
    pairs = [(a, b) for a, b, _, _ in edges]
    ncomp, nnodes = components(pairs)
    return {"edges": len(edges), "components": ncomp, "graph_nodes": nnodes,
            "reached": reachable(pairs, sources)}
