/* Block parser of kernels/boilerplate.py: HTML tokenizer and block state
 * machine in one pass over the str's code points.
 *
 * parse(html) returns the same list[Block] as parse_blocks_stdlib(html)
 * (the stdlib html.parser oracle), or None when a tag lies outside the
 * well-formed subset below; parse_blocks then re-parses the whole page
 * through stdlib. configure(...) is called once, by boilerplate.py, with
 * the Python objects the parser needs.
 *
 * Well-formed tag subset: the grammar
 *
 *   <(/)?NAME(\s+ATTR(\s*=\s*("[^"]*"|'[^']*'|UNQUOTED))?)*\s*(/?)>
 *
 * with NAME = [a-zA-Z][a-zA-Z0-9:._-]*, ATTR = [^\s/>='"`<]+ and
 * UNQUOTED = [^\s>'"`=<]*, matched greedily, first alternative first (a
 * regex engine's first match). Whitespace here is only " \t\n\r\f": a
 * \v or any other character str.isspace() accepts outside a quoted value
 * rejects the tag, because stdlib's tolerant grammar splits names and
 * attributes at Unicode whitespace and ends a tag name only at
 * "\t\n\r\f />\0". An end tag must be </NAME\s*>. Rejecting more than
 * needed is always safe: rejected pages re-parse through the oracle.
 * Only a rejected end tag without any '>' after it is kept: it is text
 * up to the next '<' (stdlib's end-of-input recovery).
 *
 * Text is unescaped by html.unescape, called only for a segment that
 * holds '&'. The comment close, the script/style CDATA close and the
 * class-attribute test follow Python's Unicode regex and str semantics,
 * so they call back into boilerplate.py (once per comment, element or
 * class attribute). Whitespace collapse (" ".join(s.split())) uses
 * Py_UNICODE_ISSPACE, the predicate str.split() uses.
 *
 * Any internal error (MemoryError, a failing callback) raises.
 */
#define PY_SSIZE_T_CLEAN
#include <Python.h>
#include <string.h>

/* tag flag bits: the _F_* constants of boilerplate.py */
#define F_SKIP 1
#define F_BP 2
#define F_VOID 4
#define F_ANCHOR 8
#define F_MERGE 16
#define F_BLOCK 32
#define F_CELLSEP 64
#define F_CDATA 128

#define MAX_TAGS 64
#define MAX_TAG_LEN 15

typedef struct {
    char name[MAX_TAG_LEN + 1];
    Py_ssize_t len;
    int flags;
    PyObject *str; /* the name as str: Block.tag and the CDATA callback */
} TagInfo;

static TagInfo tags[MAX_TAGS];
static int n_tags;
static PyObject *block_type, *unescape_fn, *comment_end_fn, *cdata_end_fn,
    *class_is_bp_fn;

/* one open element: its lower-cased name in State.names, and whether it
 * marks its content as boilerplate */
typedef struct {
    Py_ssize_t off, len;
    int bp;
} Elem;

/* one open block: its text is State.text[start:], whitespace-collapsed
 * as it is appended */
typedef struct {
    int tag; /* index into tags */
    int bp;
    int pending_space;
    Py_ssize_t start;
    Py_ssize_t link_chars;
} Open;

typedef struct {
    PyObject *html;
    int kind;
    const void *data;
    Py_ssize_t n;
    PyObject *blocks;
    Elem *elems;
    Py_ssize_t n_elems, cap_elems;
    char *names;
    Py_ssize_t n_names, cap_names;
    char *cur; /* the lower-cased name of the tag being handled */
    Py_ssize_t n_cur, cap_cur;
    Open *open;
    Py_ssize_t n_open, cap_open;
    Py_UCS4 *text;
    Py_ssize_t n_text, cap_text;
    Py_ssize_t bp_depth, skip_depth, anchor_depth, merge_depth;
} State;

static int
reserve(void **buf, Py_ssize_t *cap, Py_ssize_t need, size_t size)
{
    if (need <= *cap)
        return 0;
    Py_ssize_t c = *cap ? *cap : 16;
    while (c < need)
        c *= 2;
    void *p = PyMem_Realloc(*buf, (size_t)c * size);
    if (p == NULL) {
        PyErr_NoMemory();
        return -1;
    }
    *buf = p;
    *cap = c;
    return 0;
}

#define RESERVE(st, f, need) \
    reserve((void **)&(st)->f, &(st)->cap_##f, (need), sizeof(*(st)->f))

static int
tag_index(const char *name, Py_ssize_t len)
{
    for (int k = 0; k < n_tags; k++)
        if (tags[k].len == len && memcmp(tags[k].name, name, len) == 0)
            return k;
    return -1;
}

static inline int
is_ws(Py_UCS4 c)
{
    return c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f';
}

static inline int
is_alpha(Py_UCS4 c)
{
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}

static inline int
is_name_char(Py_UCS4 c)
{
    return is_alpha(c) || (c >= '0' && c <= '9') || c == ':' || c == '.' ||
           c == '_' || c == '-';
}

static inline int
is_attr_char(Py_UCS4 c)
{
    return !Py_UNICODE_ISSPACE(c) && c != '/' && c != '>' && c != '=' &&
           c != '\'' && c != '"' && c != '`' && c != '<';
}

static inline int
is_unquoted_char(Py_UCS4 c)
{
    return !Py_UNICODE_ISSPACE(c) && c != '>' && c != '\'' && c != '"' &&
           c != '`' && c != '=' && c != '<';
}

/* ---- text ------------------------------------------------------------ */

#define APPEND_LOOP(T)                       \
    do {                                     \
        const T *p = (const T *)data;        \
        for (Py_ssize_t i = a; i < b; i++) { \
            Py_UCS4 c = p[i];                \
            if (Py_UNICODE_ISSPACE(c)) {     \
                in_token = 0;                \
                if (k > o->start)            \
                    pending = 1;             \
                continue;                    \
            }                                \
            tokens += !in_token;             \
            in_token = 1;                    \
            chars++;                         \
            if (pending) {                   \
                out[k++] = ' ';              \
                pending = 0;                 \
            }                                \
            out[k++] = c;                    \
        }                                    \
    } while (0)

/* Append data[a:b] to the innermost open block. Inside an anchor, add
 * len(" ".join(segment.split())) to its link_chars. */
static int
append(State *st, int kind, const void *data, Py_ssize_t a, Py_ssize_t b)
{
    if (RESERVE(st, text, st->n_text + 2 * (b - a)) < 0)
        return -1;
    Open *o = &st->open[st->n_open - 1];
    Py_UCS4 *out = st->text;
    Py_ssize_t k = st->n_text, tokens = 0, chars = 0;
    int pending = o->pending_space, in_token = 0;
    switch (kind) {
    case PyUnicode_1BYTE_KIND:
        APPEND_LOOP(Py_UCS1);
        break;
    case PyUnicode_2BYTE_KIND:
        APPEND_LOOP(Py_UCS2);
        break;
    default:
        APPEND_LOOP(Py_UCS4);
        break;
    }
    if (st->anchor_depth > 0 && tokens > 0)
        o->link_chars += chars + tokens - 1;
    o->pending_space = pending;
    st->n_text = k;
    return 0;
}

/* Data event for html[a:b] (html.parser's handle_data after unescape). */
static int
text_span(State *st, Py_ssize_t a, Py_ssize_t b)
{
    if (a >= b || st->skip_depth || st->n_open == 0)
        return 0;
    Py_ssize_t amp = PyUnicode_FindChar(st->html, '&', a, b, 1);
    if (amp == -2)
        return -1;
    if (amp < 0)
        return append(st, st->kind, st->data, a, b);
    PyObject *s = PyUnicode_Substring(st->html, a, b);
    if (s == NULL)
        return -1;
    PyObject *u = PyObject_CallOneArg(unescape_fn, s);
    Py_DECREF(s);
    if (u == NULL)
        return -1;
    if (!PyUnicode_Check(u)) {
        PyErr_SetString(PyExc_TypeError, "unescape must return str");
        Py_DECREF(u);
        return -1;
    }
    int r = append(st, PyUnicode_KIND(u), PyUnicode_DATA(u), 0,
                   PyUnicode_GET_LENGTH(u));
    Py_DECREF(u);
    return r;
}

/* ---- blocks and elements ---------------------------------------------- */

static int
push_block(State *st, int tag)
{
    if (RESERVE(st, open, st->n_open + 1) < 0)
        return -1;
    Open *o = &st->open[st->n_open++];
    o->tag = tag;
    o->bp = st->bp_depth > 0;
    o->pending_space = 0;
    o->start = st->n_text;
    o->link_chars = 0;
    return 0;
}

/* Pop the innermost open block; keep it as a Block when it has text. */
static int
end_block(State *st)
{
    Open *o = &st->open[--st->n_open];
    Py_ssize_t len = st->n_text - o->start;
    st->n_text = o->start;
    if (len == 0)
        return 0;
    PyObject *text =
        PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND, st->text + o->start, len);
    if (text == NULL)
        return -1;
    PyObject *link = PyLong_FromSsize_t(o->link_chars);
    if (link == NULL) {
        Py_DECREF(text);
        return -1;
    }
    PyObject *args[4] = {tags[o->tag].str, text, link, o->bp ? Py_True : Py_False};
    PyObject *blk = PyObject_Vectorcall(block_type, args, 4, NULL);
    Py_DECREF(text);
    Py_DECREF(link);
    if (blk == NULL)
        return -1;
    int r = PyList_Append(st->blocks, blk);
    Py_DECREF(blk);
    return r;
}

static int
push_elem(State *st, int bp)
{
    if (RESERVE(st, elems, st->n_elems + 1) < 0 ||
        RESERVE(st, names, st->n_names + st->n_cur) < 0)
        return -1;
    Elem *e = &st->elems[st->n_elems++];
    e->off = st->n_names;
    e->len = st->n_cur;
    e->bp = bp;
    memcpy(st->names + st->n_names, st->cur, st->n_cur);
    st->n_names += st->n_cur;
    if (bp)
        st->bp_depth++;
    return 0;
}

/* End-tag event for the name in st->cur (html.parser's handle_endtag). */
static int
end_tag(State *st, int idx)
{
    int f = idx >= 0 ? tags[idx].flags : 0;
    if (f & F_SKIP) {
        if (st->skip_depth)
            st->skip_depth--;
        return 0;
    }
    /* close the nearest open element with this name and every element
     * opened after it (standard HTML recovery) */
    for (Py_ssize_t j = st->n_elems - 1; j >= 0; j--) {
        Elem *e = &st->elems[j];
        if (e->len == st->n_cur && memcmp(st->names + e->off, st->cur, e->len) == 0) {
            for (Py_ssize_t k = j; k < st->n_elems; k++)
                st->bp_depth -= st->elems[k].bp;
            st->n_names = e->off;
            st->n_elems = j;
            break;
        }
    }
    if (f & F_ANCHOR) {
        if (st->anchor_depth)
            st->anchor_depth--;
    }
    else if (f & F_MERGE) {
        if (st->merge_depth == 1 && st->n_open && end_block(st) < 0)
            return -1;
        if (st->merge_depth)
            st->merge_depth--;
    }
    else if (st->merge_depth > 0 && (f & F_CELLSEP)) {
        /* cell and row boundaries are whitespace inside a merged block */
        if (st->n_open) {
            Open *o = &st->open[st->n_open - 1];
            if (st->n_text > o->start)
                o->pending_space = 1;
        }
    }
    else if ((f & F_BLOCK) && st->merge_depth == 0) {
        if (st->n_open && st->open[st->n_open - 1].tag == idx && end_block(st) < 0)
            return -1;
    }
    return 0;
}

/* ---- tags -------------------------------------------------------------- */

typedef struct {
    int end, slash;
    Py_ssize_t name_a, name_b; /* tag name span */
    int has_class;             /* a class attribute was seen */
    Py_ssize_t class_a, class_b; /* the last class attribute's value */
    Py_ssize_t stop;           /* index after the closing '>' */
} Tag;

#define AT(p) PyUnicode_READ(kind, data, (p))

/* Match the well-formed tag grammar at html[lt] == '<'. 1 on a match. */
static int
match_tag(State *st, Py_ssize_t lt, Tag *t)
{
    const int kind = st->kind;
    const void *data = st->data;
    const Py_ssize_t n = st->n;
    Py_ssize_t p = lt + 1;
    t->end = p < n && AT(p) == '/';
    p += t->end;
    if (!(p < n && is_alpha(AT(p))))
        return 0;
    t->name_a = p;
    while (p < n && is_name_char(AT(p)))
        p++;
    t->name_b = p;
    t->has_class = 0;
    t->class_a = t->class_b = 0;
    t->slash = 0;
    if (!t->end) {
        for (;;) { /* attributes */
            Py_ssize_t q = p;
            while (q < n && is_ws(AT(q)))
                q++;
            if (q == p || q >= n || !is_attr_char(AT(q)))
                break;
            Py_ssize_t a = q;
            while (q < n && is_attr_char(AT(q)))
                q++;
            Py_ssize_t attr_b = q, va = q, vb = q;
            p = q;
            while (q < n && is_ws(AT(q)))
                q++;
            if (q < n && AT(q) == '=') {
                q++;
                while (q < n && is_ws(AT(q)))
                    q++;
                Py_UCS4 quote = q < n ? AT(q) : 0;
                if (quote == '"' || quote == '\'') {
                    Py_ssize_t close = PyUnicode_FindChar(st->html, quote, q + 1, n, 1);
                    if (close < 0)
                        return close == -2 ? -1 : 0;
                    va = q + 1;
                    vb = close;
                    p = close + 1;
                }
                else {
                    va = q;
                    while (q < n && is_unquoted_char(AT(q)))
                        q++;
                    vb = p = q;
                }
            }
            if (attr_b - a == 5) {
                static const char cls[] = "class";
                int k = 0;
                while (k < 5 && (AT(a + k) | 0x20) == (Py_UCS4)cls[k])
                    k++;
                if (k == 5) {
                    t->has_class = 1;
                    t->class_a = va;
                    t->class_b = vb;
                }
            }
        }
    }
    while (p < n && is_ws(AT(p)))
        p++;
    if (!t->end && p < n && AT(p) == '/') {
        t->slash = 1;
        p++;
    }
    if (!(p < n && AT(p) == '>'))
        return 0;
    t->stop = p + 1;
    /* the lower-cased name */
    Py_ssize_t len = t->name_b - t->name_a;
    if (RESERVE(st, cur, len) < 0)
        return -1;
    for (Py_ssize_t k = 0; k < len; k++) {
        Py_UCS4 c = AT(t->name_a + k);
        st->cur[k] = (char)(c >= 'A' && c <= 'Z' ? c + 32 : c);
    }
    st->n_cur = len;
    return 1;
}

/* Is the class attribute value html[a:b] a boilerplate hint? */
static int
class_is_bp(State *st, Py_ssize_t a, Py_ssize_t b)
{
    if (a >= b)
        return 0;
    PyObject *v = PyUnicode_Substring(st->html, a, b);
    if (v == NULL)
        return -1;
    PyObject *r = PyObject_CallOneArg(class_is_bp_fn, v);
    Py_DECREF(v);
    if (r == NULL)
        return -1;
    int bp = PyObject_IsTrue(r);
    Py_DECREF(r);
    return bp;
}

/* Call fn(*args), which returns an index or -1 for none; -2 on error. */
static Py_ssize_t
call_index(PyObject *fn, PyObject *const *args, size_t nargs)
{
    PyObject *r = PyObject_Vectorcall(fn, args, nargs, NULL);
    if (r == NULL)
        return -2;
    Py_ssize_t v = PyLong_AsSsize_t(r);
    Py_DECREF(r);
    if (v == -1 && PyErr_Occurred())
        return -2;
    return v;
}

/* ---- the parse loop ----------------------------------------------------- */

enum { DONE, FALLBACK, ERROR };

/* Text up to the next '<' after lt (stdlib's recovery for an unterminated
 * construct at the end of input). Sets *next to that '<', or -1. */
static int
recover(State *st, Py_ssize_t lt, Py_ssize_t *next)
{
    Py_ssize_t g = PyUnicode_FindChar(st->html, '<', lt + 1, st->n, 1);
    if (g == -2)
        return -1;
    *next = g;
    return text_span(st, lt, g < 0 ? st->n : g);
}

#define FIND(ch, from) PyUnicode_FindChar(st->html, (ch), (from), n, 1)
#define FAIL_IF(cond)       \
    do {                    \
        if (cond)           \
            return ERROR;   \
    } while (0)

static int
run(State *st)
{
    const int kind = st->kind;
    const void *data = st->data;
    const Py_ssize_t n = st->n;
    Py_ssize_t i = 0;
    while (i < n) {
        Py_ssize_t lt = FIND('<', i);
        FAIL_IF(lt == -2);
        if (lt != i) {
            FAIL_IF(text_span(st, i, lt < 0 ? n : lt) < 0);
            if (lt < 0)
                break;
        }
        int at_end = lt + 1 >= n;
        Py_UCS4 nxt = at_end ? 0 : AT(lt + 1);
        if (!at_end && nxt == '!' && lt + 3 < n && AT(lt + 2) == '-' &&
            AT(lt + 3) == '-') {
            PyObject *args[2] = {st->html, PyLong_FromSsize_t(lt + 4)};
            FAIL_IF(args[1] == NULL);
            Py_ssize_t end = call_index(comment_end_fn, args, 2);
            Py_DECREF(args[1]);
            FAIL_IF(end == -2);
            if (end >= 0) {
                i = end;
                continue;
            }
            /* unterminated comment: text through the next '>', or
             * (without one) up to the next '<' */
            Py_ssize_t g = FIND('>', lt + 1);
            FAIL_IF(g == -2);
            if (g >= 0) {
                FAIL_IF(text_span(st, lt, g + 1) < 0);
                i = g + 1;
                continue;
            }
            FAIL_IF(recover(st, lt, &i) < 0);
            if (i < 0)
                break;
            continue;
        }
        int bogus_end = nxt == '/' && !(lt + 2 < n && is_alpha(AT(lt + 2)));
        if (!at_end && (nxt == '!' || nxt == '?' || bogus_end)) {
            /* declaration, processing instruction, or '</' plus a non-name
             * (a bogus comment): skipped through the next '>' */
            Py_ssize_t end = FIND('>', lt + 2);
            FAIL_IF(end == -2);
            if (end >= 0) {
                i = end + 1;
                continue;
            }
            FAIL_IF(recover(st, lt, &i) < 0);
            if (i < 0)
                break;
            continue;
        }
        if (at_end || !(is_alpha(nxt) || nxt == '/')) {
            /* a bare '<' is text */
            if (st->skip_depth == 0 && st->n_open) {
                static const Py_UCS1 less[1] = {'<'};
                FAIL_IF(append(st, PyUnicode_1BYTE_KIND, less, 0, 1) < 0);
            }
            i = lt + 1;
            continue;
        }
        Tag t;
        int m = match_tag(st, lt, &t);
        FAIL_IF(m < 0);
        if (m == 0) {
            /* an unterminated end tag is recovered as text; an
             * unterminated start tag may be stdlib's junk tag instead,
             * raw text up to where its tolerant grammar stops */
            Py_ssize_t g = FIND('>', lt);
            FAIL_IF(g == -2);
            if (g >= 0 || !t.end)
                return FALLBACK;
            FAIL_IF(recover(st, lt, &i) < 0);
            if (i < 0)
                break;
            continue;
        }
        i = t.stop;
        int idx = tag_index(st->cur, st->n_cur);
        int f = idx >= 0 ? tags[idx].flags : 0;
        if (t.end) {
            FAIL_IF(end_tag(st, idx) < 0);
            continue;
        }
        if (f & F_SKIP) {
            st->skip_depth++;
        }
        else {
            if (!(f & F_VOID)) {
                int bp = (f & F_BP) != 0;
                if (!bp && t.has_class) {
                    bp = class_is_bp(st, t.class_a, t.class_b);
                    FAIL_IF(bp < 0);
                }
                FAIL_IF(push_elem(st, bp) < 0);
            }
            if (f & F_ANCHOR)
                st->anchor_depth++;
            else if (f & F_MERGE) {
                if (++st->merge_depth == 1)
                    FAIL_IF(push_block(st, idx) < 0);
            }
            else if ((f & F_BLOCK) && st->merge_depth == 0)
                FAIL_IF(push_block(st, idx) < 0);
        }
        if (t.slash) {
            FAIL_IF(end_tag(st, idx) < 0);
        }
        else if (f & F_CDATA) {
            /* raw content up to the strict matching close tag */
            PyObject *args[3] = {st->html, PyLong_FromSsize_t(i), tags[idx].str};
            FAIL_IF(args[1] == NULL);
            Py_ssize_t end = call_index(cdata_end_fn, args, 3);
            Py_DECREF(args[1]);
            FAIL_IF(end == -2);
            if (end < 0)
                break; /* an unclosed script or style swallows the rest */
            FAIL_IF(end_tag(st, idx) < 0);
            i = end;
        }
    }
    while (st->n_open) /* flush unclosed blocks */
        FAIL_IF(end_block(st) < 0);
    return DONE;
}

static PyObject *
parse(PyObject *Py_UNUSED(module), PyObject *html)
{
    if (block_type == NULL) {
        PyErr_SetString(PyExc_RuntimeError, "configure() was not called");
        return NULL;
    }
    if (!PyUnicode_Check(html)) {
        PyErr_Format(PyExc_TypeError, "html must be str, not %.100s",
                     Py_TYPE(html)->tp_name);
        return NULL;
    }
#if PY_VERSION_HEX < 0x030C0000
    if (PyUnicode_READY(html) < 0)
        return NULL;
#endif
    State st;
    memset(&st, 0, sizeof(st));
    st.html = html;
    st.kind = PyUnicode_KIND(html);
    st.data = PyUnicode_DATA(html);
    st.n = PyUnicode_GET_LENGTH(html);
    st.blocks = PyList_New(0);
    if (st.blocks == NULL)
        return NULL;
    int r = run(&st);
    PyMem_Free(st.elems);
    PyMem_Free(st.names);
    PyMem_Free(st.cur);
    PyMem_Free(st.open);
    PyMem_Free(st.text);
    if (r == DONE)
        return st.blocks;
    Py_DECREF(st.blocks);
    if (r == FALLBACK)
        Py_RETURN_NONE;
    return NULL;
}

static PyObject *
configure(PyObject *Py_UNUSED(module), PyObject *const *args, Py_ssize_t nargs)
{
    if (nargs != 6) {
        PyErr_SetString(PyExc_TypeError,
                        "configure(block_type, tag_flags, unescape, comment_end, "
                        "cdata_end, class_is_boilerplate)");
        return NULL;
    }
    PyObject *flags = args[1];
    if (!PyDict_Check(flags) || PyDict_GET_SIZE(flags) > MAX_TAGS) {
        PyErr_SetString(PyExc_ValueError, "tag_flags must be a dict of at most 64 tags");
        return NULL;
    }
    for (int k = 0; k < n_tags; k++)
        Py_CLEAR(tags[k].str);
    n_tags = 0;
    Py_ssize_t pos = 0;
    PyObject *key, *value;
    while (PyDict_Next(flags, &pos, &key, &value)) {
        if (!PyUnicode_Check(key) || !PyUnicode_IS_ASCII(key) ||
            PyUnicode_GET_LENGTH(key) > MAX_TAG_LEN) {
            PyErr_SetString(PyExc_ValueError, "tag names must be short ASCII str");
            return NULL;
        }
        long f = PyLong_AsLong(value);
        if (f == -1 && PyErr_Occurred())
            return NULL;
        TagInfo *t = &tags[n_tags++];
        t->len = PyUnicode_GET_LENGTH(key);
        memcpy(t->name, PyUnicode_DATA(key), t->len);
        t->name[t->len] = '\0';
        t->flags = (int)f;
        t->str = Py_NewRef(key);
    }
    Py_XSETREF(block_type, Py_NewRef(args[0]));
    Py_XSETREF(unescape_fn, Py_NewRef(args[2]));
    Py_XSETREF(comment_end_fn, Py_NewRef(args[3]));
    Py_XSETREF(cdata_end_fn, Py_NewRef(args[4]));
    Py_XSETREF(class_is_bp_fn, Py_NewRef(args[5]));
    Py_RETURN_NONE;
}

static PyMethodDef methods[] = {
    {"parse", parse, METH_O,
     "parse(html) -> list[Block], or None outside the well-formed subset."},
    {"configure", (PyCFunction)(void (*)(void))configure, METH_FASTCALL,
     "configure(block_type, tag_flags, unescape, comment_end, cdata_end, "
     "class_is_boilerplate)"},
    {NULL, NULL, 0, NULL},
};

static struct PyModuleDef module_def = {
    PyModuleDef_HEAD_INIT,
    .m_name = "_blockparse",
    .m_doc = "HTML block parser of kernels/boilerplate.py.",
    .m_size = -1,
    .m_methods = methods,
};

PyMODINIT_FUNC
PyInit__blockparse(void)
{
    return PyModule_Create(&module_def);
}
