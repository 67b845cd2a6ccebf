"""ELF header walking — the executable container, parametric in the
two axes readers hardcode at their peril: CLASS (32- vs 64-bit, which
reshuffles field offsets inside the program header — p_flags sits at
offset 24 in ELF32 but offset 4 in ELF64) and DATA (little- vs
big-endian, declared per file in e_ident and honored for every
multi-byte field). Writer and reader are hand-rolled from the public
System V gABI: the 16-byte e_ident with the 0x7F'ELF' magic, header
sizes VERIFIED against the declared class (e_ehsize/e_phentsize/
e_shentsize must be 52/32/40 or 64/56/64), program headers with the
PT_LOAD p_filesz <= p_memsz invariant enforced, section headers
whose sh_name offsets are RESOLVED through the .shstrtab string
table (and the e_shstrndx pointer validated), and the entry point
checked to fall inside an executable PT_LOAD's virtual range.
Unknown classes/encodings, bad versions and truncations are honestly
refused.
"""

from __future__ import annotations

import struct


_MACHINES = [0x3E, 0xB7, 0xF3]          # x86-64, aarch64, riscv


def elf_file_spec(i: int, seed: int = 42) -> dict:
    segs = []
    base = 0x400000 + 0x1000 * (i % 8)
    for k in range(1 + i % 3):
        segs.append({
            "vaddr": base + 0x10000 * k,
            "filesz": 0x80 + 0x10 * ((i + k) % 5),
            "memsz": 0x80 + 0x10 * ((i + k) % 5)
                     + (0x40 if k == 0 and i % 2 == 0 else 0),
            "flags": 5 if k == 0 else 6,        # R+X first, R+W rest
        })
    return {
        "is64": i % 2 == 0,
        "big": i % 4 >= 2,
        "e_type": 2 if i % 3 else 3,            # EXEC / DYN
        "machine": _MACHINES[i % 3],
        "entry": segs[0]["vaddr"] + 0x20 * (i % 4),
        "segs": segs,
        "sections": [".text", ".data", ".bss", ".shstrtab"]
                    [:3 + i % 2],
    }


def build_elf(i: int, seed: int = 42) -> bytes:
    sp = elf_file_spec(i, seed)
    en = ">" if sp["big"] else "<"
    is64 = sp["is64"]
    ehsize, phentsize, shentsize = ((64, 56, 64) if is64
                                    else (52, 32, 40))
    segs = sp["segs"]
    secs = sp["sections"]
    if ".shstrtab" not in secs:
        secs = secs + [".shstrtab"]
    strtab = b"\x00"
    name_off = {}
    for s in secs:
        name_off[s] = len(strtab)
        strtab += s.encode() + b"\x00"
    phoff = ehsize
    shoff = phoff + phentsize * len(segs)
    stroff = shoff + shentsize * (len(secs) + 1)   # +1 null section
    # program headers
    ph = b""
    foff = stroff + len(strtab)
    for s in segs:
        if is64:
            ph += struct.pack(en + "IIQQQQQQ", 1, s["flags"], foff,
                              s["vaddr"], s["vaddr"], s["filesz"],
                              s["memsz"], 0x1000)
        else:
            ph += struct.pack(en + "IIIIIIII", 1, foff, s["vaddr"],
                              s["vaddr"], s["filesz"], s["memsz"],
                              s["flags"], 0x1000)
        foff += s["filesz"]
    # section headers: null + named
    sh = b"\x00" * shentsize
    for k, s in enumerate(secs):
        stype = 3 if s == ".shstrtab" else (8 if s == ".bss" else 1)
        off = stroff if s == ".shstrtab" else 0x2000 + 0x100 * k
        size = len(strtab) if s == ".shstrtab" else 0x40 + 8 * k
        if is64:
            sh += struct.pack(en + "IIQQQQIIQQ", name_off[s], stype,
                              2, 0x400000 + 0x100 * k, off, size,
                              0, 0, 8, 0)
        else:
            sh += struct.pack(en + "IIIIIIIIII", name_off[s], stype,
                              2, 0x400000 + 0x100 * k, off, size,
                              0, 0, 8, 0)
    ident = (b"\x7fELF"
             + bytes([2 if is64 else 1, 2 if sp["big"] else 1, 1, 0])
             + b"\x00" * 8)
    if is64:
        hdr = ident + struct.pack(
            en + "HHIQQQIHHHHHH", sp["e_type"], sp["machine"], 1,
            sp["entry"], phoff, shoff, 0, ehsize, phentsize,
            len(segs), shentsize, len(secs) + 1, len(secs))
    else:
        hdr = ident + struct.pack(
            en + "HHIIIIIHHHHHH", sp["e_type"], sp["machine"], 1,
            sp["entry"], phoff, shoff, 0, ehsize, phentsize,
            len(segs), shentsize, len(secs) + 1, len(secs))
    blob = hdr + ph + sh + strtab
    blob += b"\x00" * sum(s["filesz"] for s in segs)
    return blob


# ── reader ──────────────────────────────────────────────────────────────

def parse_elf(raw: bytes) -> dict:
    if raw[:4] != b"\x7fELF":
        raise ValueError("bad ELF magic")
    cls, data, ver = raw[4], raw[5], raw[6]
    if cls not in (1, 2):
        raise NotImplementedError(f"ELF class {cls}")
    if data not in (1, 2):
        raise NotImplementedError(f"ELF data encoding {data}")
    if ver != 1:
        raise ValueError(f"ELF e_ident version {ver}")
    is64 = cls == 2
    en = ">" if data == 2 else "<"
    if is64:
        (etype, machine, _, entry, phoff, shoff, _, ehsize,
         phentsize, phnum, shentsize, shnum,
         shstrndx) = struct.unpack(en + "HHIQQQIHHHHHH", raw[16:64])
        want = (64, 56, 64)
    else:
        (etype, machine, _, entry, phoff, shoff, _, ehsize,
         phentsize, phnum, shentsize, shnum,
         shstrndx) = struct.unpack(en + "HHIIIIIHHHHHH", raw[16:52])
        want = (52, 32, 40)
    sizes_ok = (ehsize, phentsize, shentsize) == want
    loads = []
    for k in range(phnum):
        at = phoff + k * phentsize
        if at + phentsize > len(raw):
            raise ValueError("program header overruns file")
        if is64:
            ptype, pflags, poff, vaddr, _, filesz, memsz, _ = \
                struct.unpack(en + "IIQQQQQQ", raw[at:at + 56])
        else:
            ptype, poff, vaddr, _, filesz, memsz, pflags, _ = \
                struct.unpack(en + "IIIIIIII", raw[at:at + 32])
        if ptype == 1:
            if filesz > memsz:
                raise ValueError("PT_LOAD filesz > memsz")
            loads.append((vaddr, memsz, pflags, filesz))
    # sections: resolve names through shstrtab
    names = []
    if shnum:
        if shstrndx >= shnum:
            raise ValueError("e_shstrndx out of range")
        at = shoff + shstrndx * shentsize
        if is64:
            stro, strsz = struct.unpack(en + "QQ",
                                        raw[at + 24:at + 40])
        else:
            stro, strsz = struct.unpack(en + "II",
                                        raw[at + 16:at + 24])
        strtab = raw[stro:stro + strsz]
        for k in range(1, shnum):           # skip the null section
            at = shoff + k * shentsize
            if at + shentsize > len(raw):
                raise ValueError("section header overruns file")
            name_off = struct.unpack(en + "I", raw[at:at + 4])[0]
            end = strtab.find(b"\x00", name_off)
            names.append(strtab[name_off:end].decode())
    entry_ok = any(v <= entry < v + m for v, m, fl, _ in loads
                   if fl & 1)
    return {
        "is64": is64, "big": data == 2, "e_type": etype,
        "machine": machine, "n_phdrs": phnum, "n_loads": len(loads),
        "n_sections": len(names), "sizes_ok": sizes_ok,
        "entry_ok": entry_ok,
        "total_filesz": sum(f for _, _, _, f in loads),
        "names": names,
    }
