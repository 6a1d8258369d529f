#!/usr/bin/env python3
"""Who holds the heap: a stdlib-only reader for HotSpot HPROF heap dumps.

Computes strong reachability from the GC roots (the thread stacks, JNI
references, monitors, sticky classes, and every class's static fields),
following every reference except `java.lang.ref.Reference.referent`, so
softly, weakly, phantom and finalizer-reachable objects do not count.
Prints the strongly reachable totals, the largest strongly reachable
objects with the chain of fields that holds each one down to its GC
root, and a per-class histogram. With `--owners`, it also attributes
the heap to the objects that own it: every reachable object is charged
to its parent in the breadth-first tree from the roots, and the
non-container objects and classes with the largest subtrees are listed
with their chains.

Sizes are shallow sizes as the dump records them: a 16-byte header plus
the field bytes, 8 bytes per reference (the dump's identifier size), so
object arrays and reference-heavy instances read larger than they are
under compressed pointers; primitive arrays are exact.

Take a dump of a live JVM with `jcmd <pid> GC.heap_dump <file>` (the
command collects first and writes only live objects), or in process with
`HotSpotDiagnosticMXBean.dumpHeap(file, true)`.

Usage:
  python3 tools/heap_owners.py DUMP.hprof [--top 15] [--classes 30]
      [--match REGEX] [--chains 3] [--owners 0]

  --top N       the N largest strongly reachable objects, with chains
  --classes N   the N classes holding the most strongly reachable bytes
  --match RE    also count the strongly reachable instances of every
                class whose name matches RE, with up to --chains chains
  --owners N    the N non-container objects with the largest
                breadth-first subtrees, with chains; a class counts as
                the owner of what its static fields hold. Containers
                (arrays, java.util and scala.collection classes, their
                nodes, options, tuples and references) are never owners,
                and an owner that is 90% or more of the nearest owner
                above it is left to that owner, so each line names who
                holds the bytes, not the maps and wrappers that carry
                them.
"""

import argparse
import collections
import mmap
import re
import struct
import sys

# basic type codes -> byte size (2 = object reference, sized by the header)
BASIC_SIZE = {4: 1, 5: 2, 6: 4, 7: 8, 8: 1, 9: 2, 10: 4, 11: 8}
PRIM_NAME = {4: "boolean", 5: "char", 6: "float", 7: "double", 8: "byte",
             9: "short", 10: "int", 11: "long"}
HEADER = 16  # object header bytes counted in every shallow size
# classes that carry other objects' bytes rather than own them (--owners)
CONTAINER = re.compile(
    r"\[\]$|^(java\.util\.(concurrent\.)?[A-Z]|scala\.collection\.|java\.lang\.ref\.)"
    r"|^scala\.(Some|Option|Tuple\d+)$|^java\.lang\.Object$"
    r"|\$(Node|Entry|TreeNode)$")

ROOT_KINDS = {0xFF: "unknown", 0x01: "JNI global", 0x02: "JNI local",
              0x03: "Java frame", 0x04: "native stack", 0x05: "sticky class",
              0x06: "thread block", 0x07: "monitor used", 0x08: "thread object"}
# extra bytes after the root's object id, per root kind (in id units, u4s)
ROOT_EXTRA = {0xFF: (0, 0), 0x01: (1, 0), 0x02: (0, 2), 0x03: (0, 2),
              0x04: (0, 1), 0x05: (0, 0), 0x06: (0, 1), 0x07: (0, 0),
              0x08: (0, 2)}


class Heap:
    def __init__(self, path):
        f = open(path, "rb")
        self.buf = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        f.close()
        end = self.buf.find(b"\0")
        if not self.buf[:end].startswith(b"JAVA PROFILE"):
            raise SystemExit(f"{path}: not an HPROF file")
        self.idsize = struct.unpack_from(">I", self.buf, end + 1)[0]
        self.idfmt = ">Q" if self.idsize == 8 else ">I"
        self.strings = {}          # string id -> text
        self.class_name_id = {}    # class object id -> name string id
        self.class_serial = {}     # class serial -> class object id
        self.classes = {}          # class object id -> ClassInfo
        self.objects = {}          # object id -> offset of its sub-record tag
        self.roots = []            # (kind, object id, thread serial, frame)
        self.frames = {}           # frame id -> (method name id, class serial)
        self.traces = {}           # stack trace serial -> [frame ids]
        self.thread_trace = {}     # thread serial -> stack trace serial
        self.thread_obj = {}       # thread serial -> thread object id
        self._parse(end + 1 + 4 + 8)
        self._layouts()

    # -- pass over the file -------------------------------------------------

    def _id(self, pos):
        return struct.unpack_from(self.idfmt, self.buf, pos)[0]

    def _parse(self, pos):
        buf, n, ids = self.buf, len(self.buf), self.idsize
        while pos < n:
            tag = buf[pos]
            length = struct.unpack_from(">I", buf, pos + 5)[0]
            body = pos + 9
            if tag == 0x01:
                self.strings[self._id(body)] = \
                    buf[body + ids:body + length].decode("utf-8", "replace")
            elif tag == 0x02:
                serial = struct.unpack_from(">I", buf, body)[0]
                cid = self._id(body + 4)
                self.class_serial[serial] = cid
                self.class_name_id[cid] = self._id(body + 8 + ids)
            elif tag == 0x04:
                self.frames[self._id(body)] = (
                    self._id(body + ids),
                    struct.unpack_from(">I", buf, body + 4 * ids)[0])
            elif tag == 0x05:
                serial, _thread, count = struct.unpack_from(">III", buf, body)
                self.traces[serial] = [self._id(body + 12 + i * ids)
                                       for i in range(count)]
            elif tag in (0x0C, 0x1C):
                self._segment(body, body + length)
            pos = body + length

    def _segment(self, pos, end):
        buf, ids, objects = self.buf, self.idsize, self.objects
        u4 = struct.Struct(">I").unpack_from
        while pos < end:
            tag = buf[pos]
            if tag == 0x21:  # instance: id, stack serial, class id, u4 size, bytes
                objects[self._id(pos + 1)] = pos
                pos += 1 + ids + 4 + ids + 4 + u4(buf, pos + 1 + 2 * ids + 4)[0]
            elif tag == 0x22:  # object array: id, stack, u4 count, class id, ids
                objects[self._id(pos + 1)] = pos
                pos += 1 + ids + 8 + ids + u4(buf, pos + 1 + ids + 4)[0] * ids
            elif tag == 0x23:  # primitive array: id, stack, u4 count, u1 type, values
                objects[self._id(pos + 1)] = pos
                count = u4(buf, pos + 1 + ids + 4)[0]
                pos += 1 + ids + 9 + count * BASIC_SIZE[buf[pos + 1 + ids + 8]]
            elif tag == 0x20:
                pos = self._class_dump(pos)
            elif tag in ROOT_KINDS:
                extra_ids, extra_u4 = ROOT_EXTRA[tag]
                oid = self._id(pos + 1)
                rest = pos + 1 + ids + extra_ids * ids
                thread = frame = None
                if tag in (0x02, 0x03, 0x08):
                    thread, frame = struct.unpack_from(">II", buf, rest)
                    if tag == 0x08:
                        self.thread_trace[thread] = frame
                        self.thread_obj[thread] = oid
                self.roots.append((tag, oid, thread, frame))
                pos = rest + extra_u4 * 4
            else:
                raise SystemExit(f"unknown heap dump sub-record 0x{tag:02x} at {pos}")

    def _class_dump(self, pos):
        buf, ids = self.buf, self.idsize
        cid = self._id(pos + 1)
        p = pos + 1 + ids + 4
        sup, loader, signers, domain = (self._id(p + i * ids) for i in range(4))
        p += 6 * ids
        p += 4  # instance size
        (cp,) = struct.unpack_from(">H", buf, p)
        p += 2
        for _ in range(cp):
            t = buf[p + 2]
            p += 3 + (ids if t == 2 else BASIC_SIZE[t])
        (ns,) = struct.unpack_from(">H", buf, p)
        p += 2
        statics = []
        for _ in range(ns):
            name, t = self._id(p), buf[p + ids]
            p += ids + 1
            if t == 2:
                statics.append((name, self._id(p)))
                p += ids
            else:
                p += BASIC_SIZE[t]
        (nf,) = struct.unpack_from(">H", buf, p)
        p += 2
        fields = []
        for _ in range(nf):
            fields.append((self._id(p), buf[p + ids]))
            p += ids + 1
        refs = [("<super>", sup), ("<loader>", loader), ("<signers>", signers),
                ("<protection domain>", domain)]
        self.classes[cid] = ClassInfo(sup, fields, statics, refs)
        return p

    # -- class layouts ------------------------------------------------------

    def class_name(self, cid):
        name = self.strings.get(self.class_name_id.get(cid), f"class@{cid:#x}")
        name = name.replace("/", ".")
        dims = len(name) - len(name.lstrip("["))
        if dims and name[dims] == "L":  # [Ljava.lang.Object; -> java.lang.Object[]
            name = name[dims + 1:-1] + "[]" * dims
        return name

    def _layouts(self):
        ref_class = next((c for c in self.classes
                          if self.class_name(c) == "java.lang.ref.Reference"), None)
        for cid in self.classes:
            layout, off, c = [], 0, cid
            while c in self.classes:  # the class's own fields first, then its supers'
                info = self.classes[c]
                for name_id, t in info.fields:
                    size = self.idsize if t == 2 else BASIC_SIZE[t]
                    if t == 2:
                        name = self.strings.get(name_id, "?")
                        strong = not (c == ref_class and name == "referent")
                        layout.append((off, name, strong))
                    off += size
                c = info.sup
            self.classes[cid].refs_layout = layout

    # -- objects ------------------------------------------------------------

    def describe(self, oid):
        """(class name, shallow bytes, [(field label, target id)], strong refs)."""
        if oid in self.classes:
            info = self.classes[oid]
            out = [(f"static {self.strings.get(n, '?')}", t) for n, t in info.statics]
            out += info.refs
            return ("class " + self.class_name(oid), 0, out, [t for _, t in out if t])
        pos = self.objects[oid]
        buf, ids = self.buf, self.idsize
        tag = buf[pos]
        if tag == 0x21:
            cid = self._id(pos + 1 + ids + 4)
            size = struct.unpack_from(">I", buf, pos + 1 + 2 * ids + 4)[0]
            data = pos + 1 + 2 * ids + 8
            layout = self.classes[cid].refs_layout
            out = [(name, self._id(data + off)) for off, name, _ in layout]
            strong = [self._id(data + off) for off, _, s in layout if s]
            return (self.class_name(cid), HEADER + size, out, strong)
        count = struct.unpack_from(">I", buf, pos + 1 + ids + 4)[0]
        if tag == 0x22:
            cid = self._id(pos + 1 + ids + 8)
            fmt = (">%dQ" if ids == 8 else ">%dI") % count
            elems = struct.unpack_from(fmt, buf, pos + 1 + 2 * ids + 8)
            out = [(f"[{i}]", e) for i, e in enumerate(elems)]
            return (self.class_name(cid), HEADER + count * ids, out, elems)
        t = buf[pos + 1 + ids + 8]
        return (PRIM_NAME[t] + "[]", HEADER + count * BASIC_SIZE[t], [], ())

    def size(self, oid):
        """Shallow bytes of an instance or array, without decoding it."""
        pos, buf, ids = self.objects[oid], self.buf, self.idsize
        count = struct.unpack_from(">I", buf, pos + 1 + ids + 4 + (ids if buf[pos] == 0x21 else 0))[0]
        if buf[pos] == 0x21:
            return HEADER + count
        if buf[pos] == 0x22:
            return HEADER + count * ids
        return HEADER + count * BASIC_SIZE[buf[pos + 1 + ids + 8]]

    def length(self, oid):
        pos = self.objects.get(oid)
        if pos is None or self.buf[pos] == 0x21:
            return None
        return struct.unpack_from(">I", self.buf, pos + 1 + self.idsize + 4)[0]

    def string_value(self, oid):
        """Text of a java.lang.String instance (for thread names), or None."""
        if oid not in self.objects:
            return None
        name, _, out, _ = self.describe(oid)
        if name != "java.lang.String":
            return None
        value = dict(out).get("value")
        pos = self.objects.get(value)
        if pos is None or self.buf[pos] != 0x23:
            return None
        count = struct.unpack_from(">I", self.buf, pos + 1 + self.idsize + 4)[0]
        raw = self.buf[pos + 1 + self.idsize + 9:pos + 1 + self.idsize + 9 + count]
        try:
            return raw.decode("latin-1") if b"\0" not in raw else raw.decode("utf-16-le")
        except UnicodeDecodeError:
            return None

    def thread_name(self, serial):
        tid = self.thread_obj.get(serial)
        if tid is None or tid not in self.objects:
            return f"thread #{serial}"
        _, _, out, _ = self.describe(tid)
        name = self.string_value(dict(out).get("name"))
        return f'thread "{name}"' if name else f"thread #{serial}"

    def root_label(self, root):
        kind, oid, thread, frame = root
        label = ROOT_KINDS[kind] if kind != "class" else "class"
        if kind == 0x03 and thread is not None:
            trace = self.traces.get(self.thread_trace.get(thread), [])
            where = ""
            if frame is not None and 0 <= frame < len(trace):
                m, cserial = self.frames.get(trace[frame], (None, None))
                cls = self.class_name(self.class_serial.get(cserial))
                where = f" {cls}.{self.strings.get(m, '?')}"
            return f"{label} of {self.thread_name(thread)}{where}"
        if kind in (0x02, 0x08) and thread is not None:
            return f"{label} of {self.thread_name(thread)}"
        if kind == "class":
            return f"static fields of {self.class_name(oid)}"
        return label


class ClassInfo:
    __slots__ = ("sup", "fields", "statics", "refs", "refs_layout")

    def __init__(self, sup, fields, statics, refs):
        self.sup, self.fields, self.statics, self.refs = sup, fields, statics, refs
        self.refs_layout = []


def reach(heap):
    """Breadth-first strong reachability: object id -> parent id (a root
    is its own parent), the root each object was reached from, and the
    per-class (count, bytes) histogram with each object's size."""
    parent, root_of, sizes, kind_of = {}, {}, {}, {}
    queue = collections.deque()
    roots = [(k, o, t, f) for k, o, t, f in heap.roots]
    roots += [("class", cid, None, None) for cid in heap.classes]
    for r in roots:
        oid = r[1]
        if oid and oid not in parent and (oid in heap.objects or oid in heap.classes):
            parent[oid] = oid
            root_of[oid] = r
            queue.append(oid)
    hist = collections.defaultdict(lambda: [0, 0])
    while queue:
        oid = queue.popleft()
        name, size, _, strong = heap.describe(oid)
        sizes[oid] = size
        kind_of[oid] = name
        h = hist[name]
        h[0] += 1
        h[1] += size
        for t in strong:
            if t and t not in parent and (t in heap.objects or t in heap.classes):
                parent[t] = oid
                queue.append(t)
    return parent, root_of, sizes, kind_of, hist


def owners(parent, sizes, kind_of, n, share=0.9):
    """The n largest owners: non-container instances and classes (a
    class owns what its static fields hold) ranked by the bytes of their
    breadth-first subtree. An owner that is `share` or more of the
    nearest owner above it is that owner's wrapped state and is skipped.
    Returns [(id, subtree bytes)]."""
    order = list(parent)  # breadth-first discovery order
    sub = {o: sizes[o] for o in order}
    for o in reversed(order):  # children before their parents
        p = parent[o]
        if p != o:
            sub[p] += sub[o]
    def is_owner(o):
        name = kind_of.get(o)
        return name is not None and not CONTAINER.search(name.removeprefix("class "))
    above = {}  # subtree bytes of the nearest owner strictly above
    for o in order:  # parents before their children
        p = parent[o]
        if p != o:
            above[o] = sub[p] if is_owner(p) else above.get(p)
    cands = [o for o in order if is_owner(o)
             and (above.get(o) is None or sub[o] < share * above[o])]
    cands.sort(key=lambda o: -sub[o])
    return [(o, sub[o]) for o in cands[:n]]


def chain(heap, parent, root_of, oid, limit=40):
    """Lines from the object up to its GC root: each holder and its field."""
    lines, cur = [], oid
    while parent[cur] != cur and len(lines) < limit:
        up = parent[cur]
        name, _, out, _ = heap.describe(up)
        field = next((f for f, t in out if t == cur), "?")
        sep = "" if field.startswith("[") else " " if name.startswith("class ") else "."
        lines.append(f"held by  {name}{sep}{field}")
        cur = up
    if parent[cur] == cur:
        r = root_of[cur]
        lines.append(f"root     {heap.root_label(r)}")
    else:
        lines.append("...")
    return lines


def mb(n):
    return f"{n / 1048576:8.2f} MB"


def label(heap, oid, name):
    n = heap.length(oid)
    return f"{name[:-2]}[{n}]" if n is not None else name


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dump")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--classes", type=int, default=30)
    ap.add_argument("--match")
    ap.add_argument("--chains", type=int, default=3)
    ap.add_argument("--owners", type=int, default=0)
    a = ap.parse_args(argv)

    heap = Heap(a.dump)
    total_bytes = sum(heap.size(oid) for oid in heap.objects)
    parent, root_of, sizes, kind_of, hist = reach(heap)
    strong_objs = [o for o in sizes if o in heap.objects]
    strong_bytes = sum(sizes[o] for o in strong_objs)
    print(f"dump: {a.dump}")
    print(f"objects: {len(heap.objects)} ({mb(total_bytes).strip()}); "
          f"strongly reachable: {len(strong_objs)} ({mb(strong_bytes).strip()}) "
          f"from {len(heap.roots)} roots and {len(heap.classes)} classes")

    print(f"\nlargest strongly reachable objects (top {a.top}):")
    for oid in sorted(strong_objs, key=lambda o: -sizes[o])[:a.top]:
        print(f"{mb(sizes[oid])}  {label(heap, oid, kind_of[oid])}")
        for line in chain(heap, parent, root_of, oid):
            print(f"              {line}")

    if a.owners:
        print(f"\nlargest owners by breadth-first subtree (top {a.owners}):")
        for oid, sub in owners(parent, sizes, kind_of, a.owners):
            print(f"{mb(sub)}  {label(heap, oid, kind_of[oid])}")
            for line in chain(heap, parent, root_of, oid):
                print(f"              {line}")

    print(f"\nstrongly reachable bytes by class (top {a.classes}):")
    print(f"{'bytes':>11}  {'count':>9}  class")
    for name, (count, size) in sorted(hist.items(), key=lambda kv: -kv[1][1])[:a.classes]:
        print(f"{mb(size)}  {count:>9}  {name}")

    if a.match:
        rx = re.compile(a.match)
        print(f"\nstrongly reachable instances of classes matching /{a.match}/:")
        matched = collections.defaultdict(list)
        for oid in strong_objs:
            if rx.search(kind_of[oid]):
                matched[kind_of[oid]].append(oid)
        if not matched:
            print("  none")
        for name in sorted(matched):
            oids = sorted(matched[name], key=lambda o: -sizes[o])
            print(f"  {len(oids):>6}  {name}")
            for oid in oids[:a.chains]:
                print(f"          {mb(sizes[oid]).strip()}")
                for line in chain(heap, parent, root_of, oid):
                    print(f"            {line}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
