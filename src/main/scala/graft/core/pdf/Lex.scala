package graft.core.pdf

import scala.collection.immutable.{TreeMap, VectorBuilder}

/** Mutable offset cell, mirroring the reference's `size_t&` in/out params. */
final class Pos(var i: Int)

/** Dictionary entry: raw value text + object type (reference dict_t,
  * common.h:34). Insertion uses `emplace` semantics: first key wins. */
final case class PVal(raw: String, tpe: Obj.Type)

/** Recursive-descent PDF object lexer. A faithful re-derivation of the
  * reference's string-slicing parsers (common.cc:192-495); every delimiter
  * set and quirk is kept so downstream byte-identity holds.
  */
object Lex {
  type Dict = Map[String, PVal] // get_dictionary_data result
  type Arr = Vector[PVal] // get_array_data result

  def err(msg: String): Nothing = throw new PdfError(msg)

  @inline def isBlank(c: Char): Boolean =
    c == '\r' || c == '\n' || c == ' ' || c == '\t' // common.cc:199-203

  @inline def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  // ---- efind helpers (common.cc:205-266): throwing finds ------------------
  def efindFirstOf(src: String, set: String, pos: Int): Int = {
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) >= 0) return i; i += 1 }
    err(s"efind_first for $set in pos $pos failed")
  }

  def efindFirstNotOf(src: String, set: String, pos: Int): Int = {
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) < 0) return i; i += 1 }
    err(s"efind_first_not for $set in pos $pos failed")
  }

  def findFirstOf(src: String, set: String, pos: Int): Int = {
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) >= 0) return i; i += 1 }
    -1
  }

  def findFirstNotOf(src: String, set: String, pos: Int): Int = {
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) < 0) return i; i += 1 }
    -1
  }

  def efind(src: String, what: String, pos: Int): Int = {
    val r = src.indexOf(what, pos)
    if (r < 0) err(s"efind for $what in pos $pos failed")
    r
  }

  def efind(src: String, what: Char, pos: Int): Int = {
    val r = src.indexOf(what, pos)
    if (r < 0) err(s"efind for $what in pos $pos failed")
    r
  }

  // ---- numeric parsing ----------------------------------------------------
  /** strict unsigned parse: whole string must be consumed (common.cc:587-605).
    * C++ stoul skips leading whitespace and allows '+'. '-' anywhere rejects. */
  def strictStoul(s: String, base: Int = 10): Long = {
    if (s.isEmpty) err("strict_stoul: string is empty")
    if (s.indexOf('-') >= 0) err(s"strict_stoul: $s is not unsigned number")
    var i = 0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r' || s.charAt(i) == '\f' || s.charAt(i) == 0x0b)) i += 1
    if (i < s.length && s.charAt(i) == '+') i += 1
    val start = i
    var v = 0L
    while (i < s.length && digitVal(s.charAt(i)) >= 0 && digitVal(s.charAt(i)) < base) {
      v = v * base + digitVal(s.charAt(i)); i += 1
    }
    if (i == start || i != s.length) err(s"strict_stoul: $s is not unsigned number")
    v
  }

  /** strict signed parse (common.cc:607-624) */
  def strictStol(s: String, base: Int = 10): Long = {
    if (s.isEmpty) err("strict_stol: string is empty")
    var i = 0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    var neg = false
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) { neg = s.charAt(i) == '-'; i += 1 }
    val start = i
    var v = 0L
    while (i < s.length && digitVal(s.charAt(i)) >= 0 && digitVal(s.charAt(i)) < base) {
      v = v * base + digitVal(s.charAt(i)); i += 1
    }
    if (i == start || i != s.length) err(s"strict_stol: $s is not number")
    if (neg) -v else v
  }

  @inline private def digitVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'z') c - 'a' + 10
    else if (c >= 'A' && c <= 'Z') c - 'A' + 10
    else -1

  /** C++ `stof` semantics: skip leading spaces, parse longest float prefix;
    * throw if none. Returns Float (reference uses float throughout). */
  def stof(s: String): Float = {
    var i = 0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    val start = i
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    var digits = 0
    while (i < s.length && isDigit(s.charAt(i))) { i += 1; digits += 1 }
    if (i < s.length && s.charAt(i) == '.') {
      i += 1
      while (i < s.length && isDigit(s.charAt(i))) { i += 1; digits += 1 }
    }
    if (digits == 0) err(s"stof: $s is not a number")
    var end = i
    if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      var j = i + 1
      if (j < s.length && (s.charAt(j) == '+' || s.charAt(j) == '-')) j += 1
      var ed = 0
      while (j < s.length && isDigit(s.charAt(j))) { j += 1; ed += 1 }
      if (ed > 0) end = j
    }
    java.lang.Float.parseFloat(s.substring(start, end))
  }

  // ---- whitespace / comments (common.cc:268-296) --------------------------
  /** returns -1 for npos when validate=false */
  def skipSpaces(buffer: String, offset: Int, validate: Boolean = true): Int = {
    val r = findFirstNotOf(buffer, "\r\n \t", offset)
    if (validate && r < 0) err("skip_spaces: no data after space")
    r
  }

  def skipComments(buffer: String, offset0: Int, validate: Boolean = true): Int = {
    var offset = offset0
    while (true) {
      offset = skipSpaces(buffer, offset, validate)
      if (offset < 0 || buffer.charAt(offset) != '%') return offset
      offset = findFirstOf(buffer, "\r\n", offset)
      if (offset < 0) {
        if (validate) err("skip_comments: no data after comments")
        return offset
      }
    }
    offset
  }

  /** content-stream token (common.cc:275-281): token starts at i; scan for
    * the next delimiter from i+1 (so a leading delimiter char is included). */
  def getToken(content: String, p: Pos): String = {
    val start = p.i
    var i = findFirstOf(content, " \r\n\t/[(<", p.i + 1)
    if (i < 0) i = content.length
    p.i = i
    content.substring(start, i)
  }

  // ---- object type dispatch (common.cc:298-316) ---------------------------
  private def isIndirectNumber(s: String, p: Pos): Boolean = {
    // common.cc:161-173
    if (!isDigit(s.charAt(p.i))) return false
    var o = findFirstNotOf(s, "0123456789", p.i)
    if (o < 0) return false
    val c = s.charAt(o)
    // C++ isspace: space \t \n \v \f \r
    if (!(c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r')) return false
    o = findFirstNotOf(s, "\n\t\r ", o)
    if (o < 0) return false
    p.i = o
    true
  }

  private def isIndirectObject(s: String, offset: Int): Boolean = {
    val p = new Pos(offset)
    var k = 0
    while (k < 2) {
      if (!isIndirectNumber(s, p)) return false
      k += 1
    }
    s.charAt(p.i) == 'R'
  }

  def getObjectType(buffer: String, p: Pos): Obj.Type = {
    p.i = skipComments(buffer, p.i)
    if (p.i + 1 == buffer.length) err("get_object_type: not enough data")
    buffer.charAt(p.i) match {
      case '[' => Obj.ARRAY
      case '(' => Obj.STRING
      case '<' => if (buffer.charAt(p.i + 1) == '<') Obj.DICTIONARY else Obj.STRING
      case '/' => Obj.NAME_OBJECT
      case _ => if (isIndirectObject(buffer, p.i)) Obj.INDIRECT_OBJECT else Obj.VALUE
    }
  }

  // ---- object lexers (raw-text slicing, common.cc:318-495) ----------------
  def getDictionary(buffer: String, p: Pos): String = {
    var prevs = 0
    var end = p.i + 2
    while (end < buffer.length) {
      val c = buffer.charAt(end)
      val cn = buffer.charAt(end + 1) // .at() -> may throw at buffer end, as in reference
      if (c == '<' && cn == '<') { prevs += 1; end += 2 }
      else if (c == '(' || c == '<') {
        val q = new Pos(end); getString(buffer, q); end = q.i
      } else if (c == '>' && cn == '>') {
        if (prevs == 0) {
          end += 2
          val start = p.i
          p.i = end
          return buffer.substring(start, end)
        }
        prevs -= 1; end += 2
      } else end += 1
    }
    err("get_dictionary: can`t find dictionary end delimiter")
  }

  def getNameObject(buffer: String, p: Pos): String = {
    val start = p.i
    p.i = efindFirstOf(buffer, "\r\t\n /](<>", p.i + 1) // find_name_end_delimiter common.cc:111-114
    buffer.substring(start, p.i)
  }

  def getValue(buffer: String, p: Pos): String = {
    val start = p.i
    p.i = efindFirstOf(buffer, "\r\t\n /][(<>", p.i) // find_value_end_delimiter common.cc:116-119
    buffer.substring(start, p.i)
  }

  def getIndirectObject(buffer: String, p: Pos): String = {
    val start = p.i
    p.i = efind(buffer, 'R', p.i) + 1
    buffer.substring(start, p.i)
  }

  /** raw string incl. delimiters; handles nesting + escapes (common.cc:380-415) */
  def getString(buffer: String, p: Pos): String = {
    val delimiter = buffer.charAt(p.i)
    if (delimiter != '(' && delimiter != '<') err("get_string: string must start with '(' or '<'")
    val endDelimiter = if (delimiter == '(') ')' else '>'
    var prevs = 0
    val init = p.i
    var escaped = false
    var off = p.i + 1
    while (true) {
      val c = buffer.charAt(off) // throws past end, like .at()
      if (c == '\\') { escaped = !escaped; off += 1 }
      else if (escaped) { escaped = false; off += 1 }
      else if (c == delimiter) { prevs += 1; off += 1 }
      else if (c == endDelimiter) {
        if (prevs == 0) {
          off += 1
          p.i = off
          return buffer.substring(init, off)
        }
        prevs -= 1; off += 1
      } else off += 1
    }
    throw new IllegalStateException("unreachable")
  }

  def getArray(buffer: String, p: Pos): String = {
    val sb = new StringBuilder("[")
    p.i += 1
    var prevs = 0
    while (true) {
      buffer.charAt(p.i) match {
        case '(' =>
          sb.append(getString(buffer, p))
        case '<' =>
          if (buffer.charAt(p.i + 1) == '<') sb.append(getDictionary(buffer, p))
          else sb.append(getString(buffer, p))
        case '[' =>
          sb.append('['); prevs += 1; p.i += 1
        case ']' =>
          sb.append(']')
          if (prevs == 0) { p.i += 1; return sb.toString }
          prevs -= 1; p.i += 1
        case c =>
          sb.append(c); p.i += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** TYPE2FUNC dispatch (common.cc:192-197) */
  def lexByType(tpe: Obj.Type, buffer: String, p: Pos): String = tpe match {
    case Obj.DICTIONARY => getDictionary(buffer, p)
    case Obj.ARRAY => getArray(buffer, p)
    case Obj.STRING => getString(buffer, p)
    case Obj.VALUE => getValue(buffer, p)
    case Obj.INDIRECT_OBJECT => getIndirectObject(buffer, p)
    case Obj.NAME_OBJECT => getNameObject(buffer, p)
    case t => err(s"unknown object type $t")
  }

  // ---- string decoding (common.cc:26-101, 417-420) ------------------------
  private def getOctalChar(str: String, p: Pos): Char = {
    var j = p.i
    while (j < str.length && isDigit(str.charAt(j))) j += 1
    var len = j - p.i
    if (len > 3) len = if (str.charAt(p.i) == 0) 4 else 3 // leading-NUL quirk kept verbatim (common.cc:37)
    val v = strictStoul(str.substring(p.i, p.i + len), 8)
    if (v > 255) err(s"octal number $v is larger than 8 bit")
    p.i += len - 1
    v.toChar
  }

  private def getUnescapedChar(str: String, p: Pos): Char = {
    if (p.i == str.length - 2) return 0.toChar // backslash right before final ')' (common.cc:50)
    p.i += 1
    str.charAt(p.i) match {
      case 'n' => '\n'
      case 'r' => '\r'
      case 't' => '\t'
      case 'b' => '\b'
      case 'f' => '\f'
      case c @ (')' | '(' | '\\') => c
      case c =>
        if (isDigit(c)) getOctalChar(str, p) else c
    }
  }

  private def unescapeString(str: String): String = {
    val sb = new StringBuilder(str.length)
    val p = new Pos(1)
    while (p.i < str.length - 1) {
      val c = str.charAt(p.i)
      if (c == '\\') sb.append(getUnescapedChar(str, p)) else sb.append(c)
      p.i += 1
    }
    sb.toString
  }

  private def hexDecodeString(arg: String): String = {
    val hex = new StringBuilder(arg.length)
    var i = 1
    while (i < arg.length - 1) {
      val c = arg.charAt(i)
      if (c != '\n' && c != '\r' && c != ' ') hex.append(c)
      i += 1
    }
    val sb = new StringBuilder(hex.length / 2 + 1)
    i = 0
    while (i < hex.length) {
      // reference slices 2 chars; a trailing odd nibble parses as 1 hex digit
      val end = math.min(i + 2, hex.length)
      sb.append(strictStoul(hex.substring(i, end), 16).toChar)
      i += 2
    }
    sb.toString
  }

  /** literal/hex PDF string payload -> raw bytes (common.cc:417-420) */
  def decodeString(str: String): String =
    if (str.charAt(0) == '<') hexDecodeString(str) else unescapeString(str)

  // ---- structured data (common.cc:462-495) --------------------------------
  def getDictionaryData(buffer: String, offset0: Int): Dict = {
    var offset = efind(buffer, "<<", offset0) + 2
    // reference dict_t is std::map (sorted) with emplace (first key wins);
    // iteration order is never observable downstream, only lookups are.
    var result = TreeMap.empty[String, PVal]
    while (true) {
      offset = skipComments(buffer, offset)
      if (buffer.charAt(offset) == '>' && buffer.charAt(offset + 1) == '>') return result
      if (buffer.charAt(offset) != '/') err("get_dictionary_data: Can`t find name key")
      val end = efindFirstOf(buffer, "\r\t\n /<[(", offset + 1)
      val key = buffer.substring(offset, end)
      val p = new Pos(end)
      val tpe = getObjectType(buffer, p)
      val v = lexByType(tpe, buffer, p)
      offset = p.i
      if (!result.contains(key)) result = result.updated(key, PVal(v, tpe))
    }
    throw new IllegalStateException("unreachable")
  }

  def getArrayData(buffer: String, offset0: Int): Arr = {
    var offset = efind(buffer, '[', offset0) + 1
    val result = new VectorBuilder[PVal]
    while (true) {
      offset = skipComments(buffer, offset)
      if (buffer.charAt(offset) == ']') return result.result()
      val p = new Pos(offset)
      val tpe = getObjectType(buffer, p)
      val v = lexByType(tpe, buffer, p)
      offset = p.i
      result += PVal(v, tpe)
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- misc shared helpers (common.cc:626-819) ----------------------------
  def findNumber(buffer: String, offset0: Int): Int = {
    var offset = offset0
    while (offset < buffer.length && !isDigit(buffer.charAt(offset))) offset += 1
    offset
  }

  def efindNumber(buffer: String, offset: Int): Int = {
    val r = findNumber(buffer, offset)
    if (r >= buffer.length) err("efind_number: can`t find number")
    r
  }

  /** parse "id gen R id gen R ..." pairs out of a raw array body
    * (common.cc:626-640) */
  def getSet(array: String): Vector[(Long, Long)] = {
    val out = new VectorBuilder[(Long, Long)]
    var offset = findNumber(array, 0)
    while (offset < array.length) {
      var end = efindFirstOf(array, "  \r\n\t", offset)
      val id = strictStoul(array.substring(offset, end))
      offset = efindNumber(array, end)
      end = efindFirstOf(array, "  \r\n\t", offset)
      val gen = strictStoul(array.substring(offset, end))
      out += ((id, gen))
      offset = efind(array, 'R', end)
      offset = findNumber(array, offset)
    }
    out.result()
  }

  /** "id gen" prefix of an indirect-object reference (common.cc:706-715) */
  def getIdGen(data: String): (Long, Long) = {
    var end = efindFirstOf(data, "\r\t\n ", 0)
    val id = strictStoul(data.substring(0, end))
    val offset = efindNumber(data, end)
    end = efindFirstOf(data, "\r\t\n ", offset)
    (id, strictStoul(data.substring(offset, end)))
  }

  /** random access to `id obj ... endobj` via offsets table (common.cc:642-651) */
  def getObject(buffer: String, id: Long, id2offsets: Map[Long, Long]): PVal = {
    val base = id2offsets(id).toInt
    var offset = skipComments(buffer, base)
    offset = efind(buffer, "obj", base) + 3
    val p = new Pos(skipComments(buffer, offset))
    val tpe = getObjectType(buffer, p)
    PVal(lexByType(tpe, buffer, p), tpe)
  }

  def getDictVal(dict: Dict, key: String, default: Long): Long =
    dict.get(key).map(v => strictStoul(v.raw)).getOrElse(default)

  /** big-endian packed bytes -> uint (common.cc:789-795) */
  def string2num(s: String): Long = {
    if (s.isEmpty) err("string2num: string is empty")
    var r = 0L
    var i = 0
    while (i < s.length) { r = (r << 8) | (s.charAt(i) & 0xff); i += 1 }
    r
  }

  /** uint -> minimal big-endian byte-string, 2-byte padded (common.cc:808-819) */
  def num2string(n0: Long): String = {
    if (n0 == 0) return "\u0000\u0000"
    var n = n0
    val sb = new StringBuilder
    while (n != 0) { sb.insert(0, (n & 0xff).toChar); n >>>= 8 }
    if (sb.length == 1) sb.insert(0, 0.toChar)
    sb.toString
  }

  /** big-endian integer read of `size` bytes (common.h:151-161 get_integer) */
  def getIntegerBE(stream: String, offset: Int, size: Int): Long = {
    if (offset + size > stream.length) err("get_integer: wrong offset")
    var v = 0L
    var i = 0
    while (i < size) { v = (v << 8) | (stream.charAt(offset + i) & 0xff); i += 1 }
    v
  }

  /** signed variants used by the TrueType parser */
  def getInt16BE(stream: String, offset: Int): Int = getIntegerBE(stream, offset, 2).toShort.toInt
  def getUInt16BE(stream: String, offset: Int): Int = getIntegerBE(stream, offset, 2).toInt
  def getUInt32BE(stream: String, offset: Int): Long = getIntegerBE(stream, offset, 4)
}
