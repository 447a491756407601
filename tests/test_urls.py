"""Golden tests for ccspark.urls.

SESSION_VECTORS expected outputs were produced by compiling and running the
reference SessionIDURLNormalizer (util/shared/SessionIDURLNormalizer.java,
test vectors :356-397) with Java 17.
"""

import pandas as pd
import pytest

from ccspark import urlkernel, urls

SESSION_VECTORS = [
    ('http://www.bearcountryuk.com/images/bc0059.jpg/osCsid/96a7bddc9c8a4249dbabd862f859e9e1',
     'http://www.bearcountryuk.com/images/bc0059.jpg'),
    ('http://www.jileyes.com/lingerie_category-cat-26-name-Inseparables___ensembles__soutien_gorge-osCsid-3416a5c31a2013e37cf87ca963c6c99f.html',
     'http://www.jileyes.com/lingerie_category-cat-26-name-Inseparables___ensembles__soutien_gorge.html'),
    ('http://www.construfacil.com/index.php/P/search/PHPSESSID/015c350a9dcead350788459fe27e1d2c',
     'http://www.construfacil.com/index.php/P/search'),
    ('http://www.didglobal.com/page/PHPSESSID/db2efa56f2d298cbed0f27be2574cbfe/home',
     'http://www.didglobal.com/page/home'),
    ('http://www.lot-tissimo.com/zf/1/PHPSESSID/gfhte7m6riss8a57kt8hou7bl6/',
     'http://www.lot-tissimo.com/zf/1/'),
    ('http://www.droles-blagues.com/news+index.storytopic+0+start+10+PHPSESSID+dabb2d0c754e989167997c0f6cca69b3.htm',
     'http://www.droles-blagues.com/news+index.storytopic+0+start+10.htm'),
    ('http://relax-navi.net/formmail+index.id_form+1+PHPSESSID+8014724e439c07d12e0bb63599af99e1.htm',
     'http://relax-navi.net/formmail+index.id_form+1.htm'),
    ('http://www.tagtag.com/site/mobile/terms/PHPSESSID/a82av7cnicjak8t8gcq9ss8lg6',
     'http://www.tagtag.com/site/mobile/terms'),
    ('http://www.nblskil.org/ct/wffaq+index.PHPSESSID+7f1426a7e7d6f8717a05028335811b9e.htm',
     'http://www.nblskil.org/ct/wffaq+index.htm'),
    ('http://www.soft-news.net/m-news+index+PHPSESSID-7375c6f2abc8237cefb6a19012281821.html',
     'http://www.soft-news.net/m-news+index.html'),
    ('http://www.horizon-etudiant.com/news+index.PHPSESSID+df70913950e6a2aeca5049f6ccbf2a46.htm',
     'http://www.horizon-etudiant.com/news+index.htm'),
    ('http://www.classicsilks.com/catalog/images//osCsid/1eccdf955e1accf18372a3e12aa92fd6',
     'http://www.classicsilks.com/catalog/images/'),
    ('http://www.bearcountryuk.com/index.php/cPath/50/teddy+bear+name/Accessories/osCsid/4d4b2659aa5f1a39d907d315cf0a5209',
     'http://www.bearcountryuk.com/index.php/cPath/50/teddy+bear+name/Accessories'),
    ('http://www.myredpacket.co.uk/section.php/25/12/birthday-gifts-and-presents/d1b4c32d834a331b63109589ef730c27',
     'http://www.myredpacket.co.uk/section.php/25/12/birthday-gifts-and-presents/d1b4c32d834a331b63109589ef730c27'),
    ('http://www.minshuku-web.com/catalog/869/PHPSESSID/96bc0d2490b3ce6206d04c1ed7ccfb26.html',
     'http://www.minshuku-web.com/catalog/869.html'),
    ('http://ifshinviolins.com/sessions/dd603a0a691faeb744db3f72212ca888/store',
     'http://ifshinviolins.com/store'),
    ('http://www.iexplore.co.uk/travel-photos/French+Polynesia/1;$sessionid$BHZYH4QAAMGH5TBKYHVCFEQ',
     'http://www.iexplore.co.uk/travel-photos/French+Polynesia/1'),
    ('http://www.reinke.com/index.html/session_id/d606e74935a60c04d9989082b2fb624d/screen/interesting_links',
     'http://www.reinke.com/index.html/screen/interesting_links'),
    ('http://www.iboats.com/Portable_Above_Deck_Fuel_Tanks/dm/cart_id.726334728--category_id.238165--search_type.category--session_id.729524783--view_id.238165',
     'http://www.iboats.com/Portable_Above_Deck_Fuel_Tanks/dm/cart_id.726334728--category_id.238165--search_type.category--view_id.238165'),
    ('http://quote.yahoo.com/tech-ticker/article/37053/VMware-Tanks-as-CEO-Greene-Gets-Ousted;_ylt=An1dUveIfo30T0EBvyw6_US7YWsA?tickers=vmw',
     'http://quote.yahoo.com/tech-ticker/article/37053/VMware-Tanks-as-CEO-Greene-Gets-Ousted;_ylt=An1dUveIfo30T0EBvyw6_US7YWsA?tickers=vmw'),
    ('https://www.harrahs.com/AvailabilityCalendar.do?propCode=PLV',
     'https://www.harrahs.com/AvailabilityCalendar.do?propCode=PLV'),
    ('http://www.google.com/search?hl=en&q=st+jude+hospital+fullerton&btnG=Google+Search',
     'http://www.google.com/search?hl=en&q=st+jude+hospital+fullerton&btnG=Google+Search'),
    ('http://www.bearcountryuk.com/index.ddd/cPath/50/teddy+bear+name/Accessories/osCsid/4d4b2659aa5f1a39d907d315cf0a5209',
     'http://www.bearcountryuk.com/index.ddd/cPath/50/teddy+bear+name/Accessories'),
    ('http://www.bearcountryuk.com/index.ddd;jsessionid=08301521611089820628281',
     'http://www.bearcountryuk.com/index.ddd'),
    ('http://www.myredpacket.co.uk/section.php/25/12/birthday-gifts-and-presents;JSESSIONID=08301521611089820628281',
     'http://www.myredpacket.co.uk/section.php/25/12/birthday-gifts-and-presents'),
    ('http://www1.cimaglobal.com/cps/rde/xchg/SID-0AE7C4D1-E388165B/live/root.xsl/13928.htm',
     'http://www1.cimaglobal.com/cps/rde/xchg/SID-0AE7C4D1-E388165B/live/root.xsl/13928.htm'),
    ('http://www.placidway.com/treatment-detail/20/Orthopedic/Knee-Surgery-Treatment-Abroad//?PHPSESSID=c83e4440fdb325634206cda3482aa758',
     'http://www.placidway.com/treatment-detail/20/Orthopedic/Knee-Surgery-Treatment-Abroad//'),
    ('http://www.allacademic.com/one/www/www/index.php?cmd=www&PHPSESSID=e563c9711d20c906de543d52a1633072',
     'http://www.allacademic.com/one/www/www/index.php?cmd=www'),
    ('http://boards.bootsnall.com/the-team.html?sid=f52964b93dcfeb6a9ba43b0caf44d752',
     'http://boards.bootsnall.com/the-team.html'),
    ('http://www.fnac.com/livre.asp?SID=2f3f0314-8164-f087-e7e9-4ed9487391c8&UID=0B3FF5542-5944-146B-8EEB-ECDB3218C6AF&Origin=FnacAff&OrderInSession=0&TTL=040520100324&bl=2%5b1pro%5dliv',
     'http://www.fnac.com/livre.asp&UID=0B3FF5542-5944-146B-8EEB-ECDB3218C6AF&Origin=FnacAff&OrderInSession=0&TTL=040520100324&bl=2%5b1pro%5dliv'),
    ('http://forums-test.mozillazine.org/memberlist.php?mode=viewprofile&u=261941&sid=dd4c61187cd950ad4b64b8e4da7c20a9',
     'http://forums-test.mozillazine.org/memberlist.php?mode=viewprofile&u=261941'),
    ('http://www.rainbowresource.com/prodlist.php?sid=1257592724-171162',
     'http://www.rainbowresource.com/prodlist.php?sid=1257592724-171162'),
    ('http://www.eloan.com/s/show/glossary?context=refi&lockdays=30&sid=B456E0E99B62D31EAB4274D8B59B944A&user=&mcode=&vid=',
     'http://www.eloan.com/s/show/glossary?context=refi&lockdays=30&user=&mcode=&vid='),
    ('http://www.motherwear.com/cs/sizechart.cfm?cid=107&sid=25046',
     'http://www.motherwear.com/cs/sizechart.cfm?cid=107&sid=25046'),
    ('http://www.trainpetdog.com/store/terms-of-use.php?osCsid=b27eecba862e5c723c05b2f4245c06ea',
     'http://www.trainpetdog.com/store/terms-of-use.php'),
    ('http://alumni.byu.edu/s/1085/03-provo-Alumni/index.aspx?sid=1085&gid=7&pgid=60&cid=169&referer=&query=emeriti%2fpdf%2femeritiwinter09.pdf',
     'http://alumni.byu.edu/s/1085/03-provo-Alumni/index.aspx?sid=1085&gid=7&pgid=60&cid=169&referer=&query=emeriti%2fpdf%2femeritiwinter09.pdf'),
    ('http://www.couponchief.com/coupons/submit?sid=4422',
     'http://www.couponchief.com/coupons/submit?sid=4422'),
    ('http://www.emeraldinsight.com/Insight/menuNavigation.do;jsessionid=A17FC93E864C2F8B3709F63558BA69DB?hdAction=InsightHome',
     'http://www.emeraldinsight.com/Insight/menuNavigation.do?hdAction=InsightHome'),
    ('http://www.lakeshorelearning.com/order/onlineOrder.jsp;jsessionid=KxMMpRGgPpC1ktZ1pJJCZF1MmmFxZHPnyrNJhBmWJGHkhcL5Hd4p!-617247554!NONE?FOLDER%3C%3Efolder_id=2534374302096766&ASSORTMENT%3C%3East_id=1408474395181113&bmUID=1257311436941',
     'http://www.lakeshorelearning.com/order/onlineOrder.jsp?FOLDER%3C%3Efolder_id=2534374302096766&ASSORTMENT%3C%3East_id=1408474395181113&bmUID=1257311436941'),
]


@pytest.mark.parametrize("src,expected", SESSION_VECTORS)
def test_session_id_normalize_golden(src, expected):
    assert urls.session_id_normalize(src) == expected


CANON_CASES = [
    ("http://www.Example.COM:80/a/b/../c/./d.html?x=1#frag", "http://example.com/a/c/d.html?x=1"),
    ("http://example.com", "http://example.com/"),
    ("https://sub.domain.co.uk:8080/path?x=y", "https://sub.domain.co.uk:8080/path?x=y"),
    ("http://www.test.co.uk/somethingelse", "http://test.co.uk/somethingelse"),
    ("http://www.co.uk/x", "http://www.co.uk/x"),  # host == no root -> keep www
    ("http://192.168.1.1/x", "http://192.168.1.1/x"),
    ("http://example.com/a b/c", "http://example.com/a%20b/c"),
    ("http://example.com./trailing", "http://example.com/trailing"),
    ("http://example.com/%7euser/%41bc%2Fd", "http://example.com/~user/Abc%2Fd"),
    ("http://b\u00fccher.example/x", "http://xn--bcher-kva.example/x"),
    ("http://example.com/path;jsessionid=ABC123?q=1", "http://example.com/path?q=1"),
    ("https://example.com:443/x", "https://example.com/x"),
    ("not a url", None),
    ("mailto:foo@bar.com", None),
    (None, None),
]


@pytest.mark.parametrize("src,expected", CANON_CASES)
def test_canonicalize_url(src, expected):
    assert urls.canonicalize_url(src) == expected


ROOT_CASES = [
    ("www.example.com", "example.com", "com"),
    ("example.com", "example.com", "com"),
    ("sub.domain.co.uk", "domain.co.uk", "co.uk"),
    ("co.uk", None, "co.uk"),
    ("192.168.1.1", "192.168.1.1", "inaddr-arpa.arpa"),
    ("x.y.z.parliament.uk", "parliament.uk", "uk"),
    ("a.b.ck", "a.b.ck", "b.ck"),  # wildcard *.ck
    ("something.ck", None, "something.ck"),
    ("nosuchtldxyzzy.qqqq", None, None),
]


@pytest.mark.parametrize("host,root,tld", ROOT_CASES)
def test_root_domain(host, root, tld):
    assert urls.extract_root_domain_name(host) == root
    assert urls.extract_tld_name(host) == tld


def test_canonicalize_batch_fast_path_matches_slow_path():
    raw = [
        "http://example.com/a/b?x=1",
        "http://host.de/p/q.html",
        "http://www.example.com/",
        "http://EXAMPLE.com/x",
        "http://example.com/p;PHPSESSID=0123456789abcdef0123456789abcdef",
        None,
        "http://example.com:80/x",
        "http://deep.sub.example.co.uk/y?a=b",
    ]
    s = pd.Series(raw)
    fast = urls.canonicalize_batch(s)
    slow = pd.Series([urls.canonicalize_url(u) for u in raw])
    assert fast.fillna("<null>").tolist() == slow.fillna("<null>").tolist()
    # the byte-matrix path must actually handle the plain rows
    handled, _canon, _hosts = urlkernel.canonicalize_matrix(raw[:2])
    assert handled.all()


IPV4_CASES = [
    # url_canon_ip.cc semantics: hex/octal/short forms, truncation, no
    # "broken" state (parse failure → regular hostname)
    ("0x7f.0.0.1", "127.0.0.1"),
    ("0177.0.0.1", "127.0.0.1"),
    ("2130706433", "127.0.0.1"),
    ("127.1", "127.0.0.1"),
    ("192.168.257", "192.168.1.1"),        # last fills 2 bytes
    ("300.1.2.3", "44.1.2.3"),             # uchar truncation of non-last
    ("0x7F.0x00.0x00.0x01", "127.0.0.1"),
    ("4294967296", "0.0.0.0"),             # uint32 truncation
    ("0x", "0.0.0.0"),                     # empty hex body == 0
    ("192.168.1.1.", "192.168.1.1"),       # single trailing dot ok
    ("08.1.2.3", None),                    # bad octal digit → hostname
    ("1.2.3.4.5", None),                   # >4 components → hostname
    ("1..2.3", None),                      # empty component → hostname
    ("foo.09", None),                      # non-IPv4 char → hostname
    ("12ab.1", None),                      # hex letters without 0x → hostname
    ("192.168.1.1", "192.168.1.1"),
]


@pytest.mark.parametrize("host,expected", IPV4_CASES)
def test_ipv4_host_canon(host, expected):
    assert urls.canonicalize_ipv4_host(host) == expected


def test_canonicalize_url_ipv4_literals():
    assert urls.canonicalize_url("http://0x7f.0.0.1/x") == "http://127.0.0.1/x"
    assert urls.canonicalize_url("http://127.1/x") == "http://127.0.0.1/x"
    assert urls.canonicalize_url("http://2130706433/") == "http://127.0.0.1/"
    # parse failures stay hostnames, not errors
    assert urls.canonicalize_url("http://08.1.2.3/x") == "http://08.1.2.3/x"
    assert urls.canonicalize_url("http://1.2.3.4.5/x") == "http://1.2.3.4.5/x"


def test_canonicalize_batch_ipv4_parity():
    raw = [
        "http://0x7f.0.0.1/x",
        "http://0177.0.0.1/x",
        "http://127.1/x",
        "http://192.168.1.1/x",       # canonical quad may stay fast-path
        "http://300.1.2.3/x",
        "http://08.1.2.3/x",
        "http://example.com.09/x",    # numeric last label, not an IP
        "http://2130706433/",
    ]
    s = pd.Series(raw)
    batch = urls.canonicalize_batch(s)
    scalar = pd.Series([urls.canonicalize_url(u) for u in raw])
    assert batch.fillna("<null>").tolist() == scalar.fillna("<null>").tolist()


def test_canonicalize_batch_port80_parity_all_schemes():
    """ADVICE r1: tier-2 batch must drop a literal ':80' on https/ftp too,
    matching the scalar path (URLUtils.canonicalizeURL appends only
    port != "80")."""
    raw = [
        "https://example.com:80/path",
        "ftp://example.com:80/file",
        "http://example.com:80/x",
        "https://example.com:443/x",
        "ftp://example.com:21/x",
        "https://example.com:8080/x",   # non-default survives
        "https://example.com:080/x",    # leading zero
    ]
    s = pd.Series(raw)
    batch = urls.canonicalize_batch(s)
    scalar = pd.Series([urls.canonicalize_url(u) for u in raw])
    assert batch.tolist() == scalar.tolist()
    assert batch[0] == "https://example.com/path"
    assert batch[1] == "ftp://example.com/file"
    assert batch[5] == "https://example.com:8080/x"


def test_urlfp_batch():
    canon = pd.Series([
        "http://example.com/",      # fp64 golden: 5428837642025511573
        "http://www.example.com/",  # domain strips www -> example.com
        None,
    ])
    fp = urls.urlfp_batch(canon)
    assert fp["url_hash"][0] == 5428837642025511573
    assert fp["domain_hash"][0] == -5746976342330023037  # fp64("example.com")
    assert fp["domain_hash"][1] == -5746976342330023037
    assert fp["root_domain_hash"][0] == fp["domain_hash"][0]
    assert not fp["valid"][2]


IDN_CASES = [
    # IDNA2003 semantics — matching the reference's ICU uidna_IDNToASCII
    # vintage (src/native/src/libGoogleURL uses ICU IDNToASCII, the
    # IDNA2003 API): case fold, soft-hyphen mapped away, sharp-s -> ss,
    # symbols allowed (IDNA2008 would reject the snowman)
    ("http://bücher.example/x", "http://xn--bcher-kva.example/x"),
    ("http://BÜCHER.example/x", "http://xn--bcher-kva.example/x"),
    ("http://xn--bcher-kva.example/x", "http://xn--bcher-kva.example/x"),
    ("http://XN--BCHER-KVA.example/x", "http://xn--bcher-kva.example/x"),
    ("http://☃.example/x", "http://xn--n3h.example/x"),
    ("http://ex­ample.com/x", "http://example.com/x"),
    ("http://straße.example/x", "http://strasse.example/x"),
    ("http://日本語.example/x", "http://xn--wgv71a119e.example/x"),
    ("http://xn--invalid-punycode-!!.example/x", None),
]


@pytest.mark.parametrize("src,expected", IDN_CASES)
def test_idn_idna2003_semantics(src, expected):
    assert urls.canonicalize_url(src) == expected


def test_idn_batch_parity():
    s = pd.Series([c for c, _ in IDN_CASES])
    batch = urls.canonicalize_batch(s)
    for i, (_, want) in enumerate(IDN_CASES):
        assert batch.iloc[i] == want


def test_ipv6_literal_hosts_rejected_like_reference():
    """IPv6 bracketed hosts canonicalize to None — and that IS the
    reference's behavior, not a divergence: the vendored Gears-era
    googleurl has no IPv6 canonicalizer (CanonicalizeIPAddress handles
    IPv4 only, url_canon_ip.cc:245-260, and ':' maps to 0/invalid in
    kHostCharLookup, url_canon_host.cc:80-86), so DoSimpleHost fails the
    host (url_canon_host.cc:216-221), GoogleURL.isValid() is false, and
    URLUtils.canonicalizeURL throws MalformedURLException
    (URLUtils.java:360-362).  The fingerprint side (URLFPV2 null) was
    already aligned; this pins the canonical-string surface too."""
    import pandas as pd

    from ccspark import urlkernel as K
    from ccspark import urls as U

    cases = [
        "http://[::1]/a",
        "https://[2001:db8::1]/x?q=1",
        "http://[2001:0db8:0000:0000:0000:ff00:0042:8329]:8080/p",
        "ftp://[fe80::1%25eth0]/f",
        "http://[::ffff:192.0.2.1]/",
        "HTTP://[::1]:80/a",
    ]
    for u in cases:
        assert U.canonicalize_url(u) is None, u
    canon, host = K.canonicalize_batch_kernel(pd.Series(cases, dtype=object))
    for i, u in enumerate(cases):
        assert canon.iloc[i] is None, u
        assert host.iloc[i] is None, u


def test_page_links_extraction(spark):
    """links.page_links: href forms (quoted/unquoted), entity unescape,
    dot-segment resolution, skip families, canonical identity."""
    from ccspark import links

    html = (
        '<html><body><a href="/a/b">x</a>'
        "<a class=z href='../up'>y</a>"
        "<a href=bare?q=1>z</a>"
        '<A HREF="HTTPS://Other.COM/Abs#frag">abs</A>'
        '<a href="#frag">skip</a><a href="javascript:void(0)">skip</a>'
        '<a href="mailto:a@b">skip</a>'
        '<a href="/amp?a=1&amp;b=2">amp</a></body></html>'
    )
    df = spark.createDataFrame(
        [("http://www.example.com/dir/page.html", html)], "url string, html string"
    )
    out = {r["canonical_url"] for r in links.page_links(df, "url", "html").collect()}
    assert out == {
        "http://example.com/a/b",
        "http://example.com/up",
        "http://example.com/dir/bare?q=1",
        "https://other.com/Abs",
        "http://example.com/amp?a=1&b=2",
    }
